package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.{Landing, NearDup}

/** Dedup semantics: scalacheck properties for the exact path, and the
  * sketch-vs-exact equivalence the MinHash query's shared oracle relies on.
  */
class DedupSpec extends SparkSpec {

  private val rowsGen =
    Gen.listOf(Gen.zip(Gen.choose(0, 20), Gen.choose(0, 5)))

  test("dropDuplicates is idempotent and key-complete (property)") {
    val sp = spark
    import sp.implicits._
    val prop = Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "v")
      val once = Landing.dedup(df, Seq("k", "v"))
      val twice = Landing.dedup(once, Seq("k", "v"))
      val a = once.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val b = twice.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      a == b && a == rows.toSet // idempotent, and exactly the distinct pairs
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("MinHash+LSH pairs equal the exact jaccard pairs at threshold 0.5") {
    val docs = Tables.documents(spark, sf0001)
    val exact = NearDup.jaccardPairs(docs, 3, 0.5, 100)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sketch = NearDup.minhashPairs(docs, 3, 0.5, 100)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(sketch === exact)
  }

  test("Width rules over range stats: uncapped, capped, 8 MiB state, " +
       "spread boundary") {
    // r18: no session floor — a KB-sized input runs the fixpoint NARROW
    // regardless of core count; the sf0.001 documents table prices to a
    // handful of partitions
    val w = Width.of("test", Tables.documents(spark, sf0001))
    assert(w >= 1 && w <= 4, s"tiny corpus must stay narrow, got $w")
    // range stats are 8 bytes/row and uncached, so statsBytes doubles
    // them: 2^20 rows = 8 MiB → 16 MiB, and the fixpoint rule is
    // ceil(16 MiB / 256 KiB) = 64 partitions
    def rows(n: Long) = spark.range(n).toDF()
    val session = spark.sessionState.conf.numShufflePartitions
    assert(session === 4)
    val table = Seq(
      // (rule, rows, expected width)
      ("uncapped", 1000L, 1),          // 16 KB → 1
      ("uncapped", 1L << 20, 64),
      ("uncapped", 1L << 31, 4096),    // clamped, never beyond
      ("capped", 1000L, 1),
      ("capped", 1L << 20, session),   // 64 capped at the session's 4
      ("state", 1L << 20, 2),          // 16 MiB / 8 MiB
      ("state", 1L << 22, 8),
      ("state", 1000L, 1))
    table.foreach { case (rule, n, want) =>
      val got = rule match {
        case "uncapped" => Width.of("test", rows(n))
        case "capped" => Width.capped("test", rows(n))
        case "state" => Width.of("test", rows(n), Width.StateBytes)
      }
      assert(got === want, s"$rule over $n rows")
    }
    // the spread engages once the RAW estimate reaches session × 4 MiB:
    // 4 × 4 MiB = 16 MiB = 2^21 rows of 8 bytes
    assert(Width.spread("test", rows(1L << 21)))
    assert(!Width.spread("test", rows((1L << 21) - 1)))
  }

  test("duplicateComponents: fixpoint result is width-invariant (same " +
       "clusters at the adaptive and a forced-wide width)") {
    // the adaptive width must never change VALUES — run the components
    // fixpoint at the session width and at an artificially wide width and
    // require identical (doc_id, cluster_id) sets
    val docs = Tables.documents(spark, sf0001)
    val base = NearDup.duplicateComponents(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sess = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    try {
      CacheRegistry.release()
      spark.catalog.clearCache()
      val wide = NearDup.duplicateComponents(docs, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(wide === base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", sess)
    assert(base.nonEmpty, "testdata should contain planted near-dups")
  }

  test("identical documents share a min-shingle fingerprint; distinct ones don't") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (3L, "a totally different set of words about distributed columnar engines"))
      .toDF("doc_id", "text")
    val fp = graft.operators.TextAnalysis.fingerprints(docs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("identical documents collide at hamming 0 in simhashPairs") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "spark shuffles the sorted aggregation across executor partitions"),
      (2L, "spark shuffles the sorted aggregation across executor partitions"),
      (3L, "a completely different document about stream processing windows"))
      .toDF("doc_id", "text")
    val pairs = NearDup.simhashPairs(docs, 3)
      .select("a_id", "b_id", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0L)))
  }

  test("duplicateComponents collapses a transitive chain into one cluster") {
    val sp = spark
    import sp.implicits._
    // a ~ b (identical), b ~ c (identical) ⇒ {a,b,c} must be ONE cluster
    // labeled by the minimum id, even though a ~ c is only transitive;
    // d/e form a second identical pair; f is a singleton (no pair → no row)
    val same1 = "spark shuffles the sorted aggregation across executor partitions"
    val same2 = "watermarks bound the streaming state store growth per batch"
    val docs = Seq(
      (10L, same1), (11L, same1), (12L, same1),
      (20L, same2), (21L, same2),
      (30L, "a completely different document about columnar file formats"))
      .toDF("doc_id", "text")
    val comps = NearDup.duplicateComponents(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(comps === Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)))
    CacheRegistry.release()
  }

  test("substringDedup merges overlapping and adjacent covers into maximal spans") {
    val sp = spark
    import sp.implicits._
    // Shared passage between docs 1 and 2: tokens "one two three four
    // five six" — SIX tokens, so doc 1 has duplicated 5-gram starts at
    // positions 0 and 1 (overlapping covers [0,4] and [1,5]) which must
    // merge into ONE maximal span of 6 tokens, not two spans of 5.
    // Doc 3 shares a separate disjoint passage "alpha beta gamma delta
    // epsilon" with doc 1, placed with a > k token gap after the first
    // passage, so doc 1 reports exactly TWO maximal spans.
    val shared1 = "one two three four five six"
    val shared2 = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, s"$shared1 filler1 filler2 filler3 filler4 filler5 filler6 $shared2"),
      (2L, s"prefix padding words here $shared1 trailing stuff"),
      (3L, s"$shared2 entirely unrelated tail content"),
      (4L, "no overlap with anything else at all in this document"))
      .toDF("doc_id", "text")
    val res = NearDup.substringDedup(docs, 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: span of 6 ("one..six", merged from 2 overlapping starts) +
    // span of 5 ("alpha..epsilon") = 2 spans, 11 dup tokens, max 6
    assert(res(1L) === ((2L, 11L, 6L)))
    // doc 2: one span of 6; doc 3: one span of 5; doc 4: clean
    assert(res(2L) === ((1L, 6L, 6L)))
    assert(res(3L) === ((1L, 5L, 5L)))
    assert(res(4L) === ((0L, 0L, 0L)))
    CacheRegistry.release()
  }

  test("substringDedup adjacent (gap == k) covers merge; gap > k covers do not") {
    val sp = spark
    import sp.implicits._
    // docs 1/2 share "a1 a2 a3 a4 a5" and "b1 b2 b3 b4 b5"; in doc 1 the
    // two passages are back-to-back (duplicated starts at 0 and 5 — gap
    // exactly k) so they merge into ONE 10-token span; in doc 2 a 6-token
    // filler separates them (gap 11 > k) so they stay TWO spans.
    val p1 = "a1 a2 a3 a4 a5"
    val p2 = "b1 b2 b3 b4 b5"
    val docs = Seq(
      (1L, s"$p1 $p2"),
      (2L, s"$p1 f1 f2 f3 f4 f5 f6 $p2"),
      (3L, s"$p1 unrelated other words $p2"))
      .toDF("doc_id", "text")
    val res = NearDup.substringDedup(docs, 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(res(1L) === ((1L, 10L, 10L)))
    assert(res(2L) === ((2L, 10L, 5L)))
    CacheRegistry.release()
  }

  test("approx_count_distinct lands within 5x rsd of the exact count") {
    val orders = Tables.orders(spark, sf0001)
    val exact = operators.Warehouse.distinctBuyers(orders)
      .select("o_orderstatus", "n_buyers").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = operators.Warehouse.approxDistinctBuyers(orders)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (k, a) =>
      val e = exact(k).toDouble
      assert(math.abs(a - e) / e <= 5 * 0.02,
        s"status $k: approx $a vs exact $e beyond 5x rsd")
    }
  }

  test("bloomPruneJoin: zero false negatives (matches equal the exact " +
       "semi-join), bounded false positives, exact matched revenue") {
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, sf0001)
    val customer = Tables.customer(spark, sf0001)
    val got = operators.Warehouse.bloomPruneJoin(orders, customer)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_matched"),
         r.getAs[Long]("n_false_pos"), r.getAs[Double]("matched_revenue")))
      .toMap
    val seg = customer.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val exact = orders.join(seg,
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("rev"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        r.getAs[Double]("rev"))).toMap
    exact.foreach { case (prio, (n, rev)) =>
      val (cand, matched, fp, mrev) = got(prio)
      assert(matched === n, s"$prio: the Bloom pass dropped a true match")
      assert(mrev === rev, s"$prio: matched revenue drifted")
      assert(fp === cand - matched && fp >= 0L)
    }
    // an 8 KiB bitmap over ~hundreds of keys: false positives must be a
    // small fraction of true matches at this fill (fpp ~ (fill)^2 << 1)
    val (cands, matches) = (got.values.map(_._1).sum, got.values.map(_._2).sum)
    assert(cands - matches <= (matches / 10).max(5L),
      s"false-positive residue implausibly high: $cands candidates vs $matches matches")
  }

  test("bloomPruneJoin hashes decorrelate above the bitmap width: keys " +
       "congruent mod 65536 are not guaranteed false positives, true " +
       "matches at key > 65536 still pass") {
    val sp = spark
    import sp.implicits._
    // the pre-fix hash pair ((k*A1) % 2^16, (k*A2+C) % 2^16) factored
    // through k mod 65536, so EVERY probe at k + 65536 of a build key k
    // was a structural double collision — 512/512 false positives here.
    // The distinct-prime-moduli pair must prune nearly all of them
    // (independence-model fpp at this fill: (2*512/65536)^2 ~ 2.4e-4).
    val build = (1 to 512).map(k => (k.toLong, "BUILDING"))
      .toDF("c_custkey", "c_mktsegment")
    val congruent = (1 to 512).map(k => (k.toLong + 65536L, "SHIFT", 1.0))
    val trueHits = (1 to 100).map(k => (k.toLong, "MATCH", 2.0))
    val probes = (congruent ++ trueHits)
      .toDF("o_custkey", "o_orderpriority", "o_totalprice")
    val rows = operators.Warehouse.bloomPruneJoin(probes, build)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_matched"),
         r.getAs[Long]("n_false_pos"))).toMap
    // zero false negatives at key > 2^16: every true match survives
    val (_, m, _) = rows.getOrElse("MATCH", (0L, 0L, 0L))
    assert(m === 100L, s"true matches dropped by the Bloom pass: $rows")
    // the 512 congruent probes must NOT be guaranteed positives; allow
    // a generous 16 (>60x above the independence model, 32x below the
    // pre-fix structural 512)
    val (_, sm, sfp) = rows.getOrElse("SHIFT", (0L, 0L, 0L))
    assert(sm === 0L, "a congruent non-member matched the exact join")
    assert(sfp <= 16L,
      s"$sfp/512 congruent-mod-65536 probes passed the Bloom pair — " +
      "the hashes are still correlated through k mod 65536")
  }

  test("leakageSafeSplit: cluster-atomic routing (leak_safe 0, totals " +
       "conserved, every cluster in exactly one split)") {
    val docs = Tables.documents(spark, sf0001)
    val rows = NearDup.leakageSafeSplit(docs).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("test", "train", "valid"))
    // the census is total: split doc counts sum to the corpus
    assert(rows.map(_.getLong(1)).sum === docs.count())
    // cluster routing can never straddle — both engines DERIVE the zero,
    // the spec pins it
    assert(rows.forall(_.getLong(5) === 0L),
      "leak_safe must be zero under cluster routing")
    // the planted near-dups make the naive audit non-trivial on sf0.001
    assert(rows.map(_.getLong(4)).sum > 0L,
      "expected naive doc-hash routing to straddle at least one pair")
    CacheRegistry.release()
  }
}
