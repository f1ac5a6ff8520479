package graft

import graft.operators.Similarity

/** ANN quality: the LSH path is graded by recall against the exact
  * brute-force baseline (both seeded-deterministic, so the bound is
  * stable run-to-run).
  */
class SimilaritySpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("clusterBalancedSample: per-cell kept = min(k, cell size), kept " +
       "ids are the cell's bottom-k hashes, partitioning-invariant") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val k = 7
    val got = operators.Similarity.clusterBalancedSample(emb, k).collect()
    // census law: every cell contributes exactly min(k, n_cell) rows,
    // ranks are 1..kept with no gaps
    val byCell = got.groupBy(_.getAs[Any]("assigned"))
    byCell.foreach { case (cell, rows) =>
      val nCell = rows.head.getAs[Long]("n_cell")
      assert(rows.length.toLong === math.min(k.toLong, nCell),
        s"cell $cell kept ${rows.length} of $nCell at cap $k")
      assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq ===
        (1L to rows.length.toLong), s"cell $cell ranks have gaps")
      // bottom-k law: kept hashes are below every unkept rank's hash
      // (ranks are assigned by ascending h, so max kept h is a bound)
      val hs = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("h"))
      assert(hs.toSeq === hs.sorted.toSeq, s"cell $cell not hash-ordered")
    }
    // cell populations reconcile with the corpus
    val total = byCell.map(_._2.head.getAs[Long]("n_cell")).sum
    assert(total === emb.count(), "cell sizes do not partition the corpus")
    // determinism across physical layout: a re-partitioned input keeps
    // the exact same sample (the coordinated-sample property)
    val re = operators.Similarity
      .clusterBalancedSample(emb.repartition(7, col("label")), k)
      .collect()
    assert(re.map(r => (r.getAs[Any]("assigned"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id"))).toSet ===
      got.map(r => (r.getAs[Any]("assigned"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id"))).toSet,
      "sample changed under repartitioning")
    CacheRegistry.release()
  }

  test("coresetFps: seed is lowest id, picks are distinct, the radius " +
       "profile is non-increasing, and a planted far outlier is picked second") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // handcrafted geometry: a tight cluster near the origin plus one far
    // outlier — FPS must seed at the lowest id, grab the outlier second
    val rows = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(0.0f, 0.1f)), (4L, Array(0.1f, 0.1f)),
      (10L, Array(100.0f, 100.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.coresetFps(rows, 3).collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
    assert(got(0).getLong(1) === 1L, "seed must be the lowest vec_id")
    assert(got(0).getDouble(2) === 0.0)
    assert(got(1).getLong(1) === 10L, "round 1 must pick the far outlier")
    // radii non-increasing after round 0's sentinel
    assert(got(1).getDouble(2) >= got(2).getDouble(2))
    // corpus-scale laws on the real table: k distinct picks, radius
    // profile non-increasing from round 1 on, layout-invariant
    val emb = Tables.embeddings(spark, sf0001)
    val fps = Similarity.coresetFps(emb, 6).collect()
    assert(fps.length === 6)
    assert(fps.map(_.getLong(1)).distinct.length === 6, "duplicate pick")
    val radii = fps.drop(1).map(_.getDouble(2)).toSeq
    assert(radii === radii.sorted.reverse, s"radius profile increased: $radii")
    val re = Similarity.coresetFps(emb.repartition(7, col("label")), 6)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(re === fps.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq,
      "selection changed under repartitioning")
    CacheRegistry.release()
  }

  test("coresetCover: census partitions the corpus, every max_d2 is " +
       "bounded by the final FPS radius, and the planted outlier owns itself") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // same planted geometry as the FPS test: with k=2 the centers are
    // {1, 10}; the tight cluster must land on 1, the outlier on itself
    val rows = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(0.0f, 0.1f)), (4L, Array(0.1f, 0.1f)),
      (10L, Array(100.0f, 100.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.coresetCover(rows, 2).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 10L))
    assert(got.map(_.getLong(1)).toSeq === Seq(4L, 1L),
      "cluster must assign to center 1, outlier to itself")
    assert(got(1).getDouble(2) === 0.0 && got(1).getDouble(3) === 0.0,
      "a self-assigned center has zero mean and max d²")
    // corpus-scale laws on the real table: populations partition the
    // corpus, mean ≤ max per cell, and every realized cover radius is
    // bounded by the FPS radius profile's final reading (the k-center
    // guarantee: after k picks, no point is farther than round k−1's
    // selection distance from its nearest center)
    val emb = Tables.embeddings(spark, sf0001)
    val k = 6
    val census = Similarity.coresetCover(emb, k).collect()
    assert(census.map(_.getLong(1)).sum === emb.count(),
      "census populations do not partition the corpus")
    census.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-6,
        s"center ${r.getLong(0)}: mean_d2 exceeds max_d2")
    }
    val lastRadius = Similarity.coresetFps(emb, k).collect()
      .maxBy(_.getInt(0)).getDouble(2)
    census.foreach { r =>
      assert(r.getDouble(3) <= lastRadius + 1e-6,
        s"center ${r.getLong(0)}: cover radius ${r.getDouble(3)} exceeds " +
          s"the final FPS radius $lastRadius")
    }
    // layout invariance: the census is a pure function of the set
    val re = Similarity.coresetCover(emb.repartition(7, col("label")), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(re === census.map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3))).toSeq,
      "census changed under repartitioning")
    CacheRegistry.release()
  }

  test("LSH ANN recall vs exact top-10 is above the design floor") {
    val emb = Tables.embeddings(spark, sf0001)
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val ann = pairs(Similarity.lshAnnTopK(emb, 4, 8, 10)
      .filter(org.apache.spark.sql.functions.col("query_id") < nQ))
    val recall = (exact & ann).size.toDouble / exact.size
    info(f"LSH recall@10 = $recall%.3f (${(exact & ann).size}/${exact.size})")
    // The synthetic embeddings are near-random (max cosine ~0.5), the
    // adversarial case for hyperplane LSH — recall@10 is inherently low
    // here. The seeded config deterministically yields 0.065; the floor
    // exists to catch a broken bucketing (which collapses recall to ~0),
    // not to grade ANN quality on random noise.
    assert(recall >= 0.03,
      f"recall $recall%.3f below floor — LSH bucketing no longer overlaps the true neighbors")
  }

  test("binaryQuantize: packed halves match a reference bit loop, n_bits = popcount") {
    val sp = spark
    import sp.implicits._
    // hand vectors: alternating signs, an all-negative, a zero-component
    val vecs = Seq(
      0L -> Array.tabulate(64)(j => if (j % 2 == 0) 0.5f else -0.5f),
      1L -> Array.fill(64)(-1.0f),
      2L -> Array.tabulate(64)(j => if (j < 3) 0.0f else 1.0f))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.binaryQuantize(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    vecs.foreach { case (id, e) =>
      var lo = 0L; var hi = 0L
      (0 until 32).foreach(j => if (e(j) > 0) lo |= (1L << j))
      (32 until 64).foreach(j => if (e(j) > 0) hi |= (1L << (j - 32)))
      val bits = java.lang.Long.bitCount(lo) + java.lang.Long.bitCount(hi)
      assert(got(id) === ((lo, hi, bits.toLong)), s"vec $id codes drifted")
    }
    // zero components are NOT positive: vec 2 has exactly 61 bits
    assert(got(2L)._3 === 61L)
    assert(got(1L) === ((0L, 0L, 0L)))
  }

  test("hammingRerankSearch: full-corpus shortlist equals brute force; default m recall floor") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    // m covering every candidate makes stage 1 a no-op: the two-stage
    // serve must then equal the exact brute tier VERBATIM (same cosine
    // chain, same rank contract) — the lossless-composition law
    val full = Similarity.hammingRerankSearch(emb, 20, 10, m = n).collect()
    val brute = Similarity.bruteForceTopK(emb, 20, 10).collect()
    assert(full.map(_.toString).toSeq === brute.map(_.toString).toSeq,
      "m = corpus must reduce to the brute tier exactly")
    // at the default m the sign-bit prefilter must still carry signal
    val exact = pairs(Similarity.bruteForceTopK(emb, 20, 10))
    val ham = pairs(Similarity.hammingRerankSearch(emb, 20, 10, 50))
    val recall = (exact & ham).size.toDouble / exact.size
    info(f"hamming recall@10 (m=50) = $recall%.3f")
    assert(recall >= 0.45,
      f"recall $recall%.3f below floor — the Hamming shortlist lost its correlation with cosine")
    // re-ranked sims are EXACT cosine: any pair surviving both tiers
    // carries the identical rounded sim
    val bruteSims = Similarity.bruteForceTopK(emb, 20, 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    Similarity.hammingRerankSearch(emb, 20, 10, 50).collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(2))
      bruteSims.get(k).foreach(s => assert(s === r.getDouble(3),
        s"$k: re-ranked sim diverged from the exact tier"))
    }
  }

  test("binary index: serve-from-saved-codes equals the inline serve verbatim") {
    val emb = Tables.embeddings(spark, sf0001)
    val inline0 = Similarity.hammingRerankSearch(emb, 20, 10, 50).collect()
    val saved = Similarity.binarySavedRoundtrip(spark, sf0001, 20, 10, 50)
      .collect()
    assert(saved.map(_.toString).toSeq === inline0.map(_.toString).toSeq,
      "the from-files serve must lose nothing vs inline quantization")
  }

  test("matryoshkaSearch: full-corpus shortlist equals brute force; prefix recall floor") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    val full = Similarity.matryoshkaSearch(emb, 20, 10, m = n).collect()
    val brute = Similarity.bruteForceTopK(emb, 20, 10).collect()
    assert(full.map(_.toString).toSeq === brute.map(_.toString).toSeq,
      "m = corpus must reduce to the brute tier exactly")
    val exact = pairs(Similarity.bruteForceTopK(emb, 20, 10))
    val mrl = pairs(Similarity.matryoshkaSearch(emb, 20, 10, 50))
    val recall = (exact & mrl).size.toDouble / exact.size
    info(f"matryoshka recall@10 (m=50, prefix 16/64) = $recall%.3f")
    // the synthetic embeddings are NOT MRL-trained, so the 16-dim prefix
    // is an untrained truncation — the floor catches a broken slice (a
    // wrong prefix collapses toward random: recall ~ m/n ~ 0.1)
    assert(recall >= 0.35,
      f"recall $recall%.3f below floor — the prefix stage lost its correlation with full-dim cosine")
  }

  test("doc-tier IVF-PQ graduation recalls the exact-L2 doc neighbors") {
    val docs = Tables.documents(spark, sf0001)
    // ground truth = exact squared-L2 top-5 over the SAME pooled vectors
    // the index quantizes — the quantity ADC search approximates (the
    // brute-force cosine tier ranks by a different metric and is only an
    // informational comparison below)
    val dv = Similarity.docVectors(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).toArray).toMap
    val exact = dv.keys.filter(_ < 10).flatMap { q =>
      dv.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          val d2 = v.zip(dv(q)).map { case (a, b) => (a - b) * (a - b) }.sum
          (d2, id)
        }.sorted.take(5).map { case (_, id) => (q, id) }
    }.toSet
    val idx = pairs(Similarity.docIvfPqRoundtrip(spark, sf0001))
    val recall = (exact & idx).size.toDouble / exact.size
    val cosOverlap = (pairs(Similarity.docSearch(docs)) & idx).size.toDouble / exact.size
    info(f"doc IVF-PQ recall@5 vs exact L2 = $recall%.3f (cosine-tier overlap $cosOverlap%.3f)")
    // nprobe=2 of 8 cells bounds attainable recall on near-random pooled
    // vectors (deterministically 0.28 on this corpus); the floor catches
    // a broken graduation (recall ~0), not ADC quality on random vectors
    assert(recall >= 0.15,
      f"doc-tier index recall $recall%.3f collapsed — graduation lost the neighbors")
  }

  test("hybrid RRF fuses only the two tiers' candidates and respects double-appearance dominance") {
    val docs = Tables.documents(spark, sf0001)
    val m = 10
    val lex = graft.operators.TextAnalysis.bm25TopK(docs, 10, m).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id")) -> r.getAs[Long]("rank")).toMap
    val vec = Similarity.docSearch(docs, 10, k = m).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id")) -> r.getAs[Long]("rank")).toMap
    val fused = Similarity.hybridRrf(docs).collect()
    // every fused candidate came from one of the two tiers
    fused.foreach { r =>
      val key = (r.getLong(0), r.getAs[Long]("neighbor_id"))
      assert(lex.contains(key) || vec.contains(key),
        s"fused candidate $key appears in neither tier's top-$m")
    }
    // the fused score is exactly the RRF of the tiers' ranks
    fused.foreach { r =>
      val key = (r.getLong(0), r.getAs[Long]("neighbor_id"))
      val want = lex.get(key).map(rk => 1.0 / (60.0 + rk)).getOrElse(0.0) +
        vec.get(key).map(rk => 1.0 / (60.0 + rk)).getOrElse(0.0)
      // emitted rrf is display-rounded to 6 decimals
      assert(math.abs(r.getAs[Double]("rrf") - want) <= 5.1e-7,
        s"fused score for $key diverged from 1/(60+rank) law")
    }
    // a doc ranked top-1 by BOTH tiers can never lose to a single-tier doc
    val both1 = lex.filter(_._2 == 1L).keySet & vec.filter(_._2 == 1L).keySet
    val rank1 = fused.filter(_.getAs[Long]("rank") == 1L)
      .map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    both1.foreach(k => assert(rank1.contains(k),
      s"double-top-1 candidate $k not fused at rank 1"))
  }

  test("lifecycle index (append+delete+compact) serves identically to the never-appended twin") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val splitId = 100L
    val delPred = col("vec_id") % 10 === 3 &&
      col("vec_id") >= 20 && col("vec_id") < splitId
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serve(dir: String) =
      Similarity.searchIvfPqIndex(spark, dir, queries, 10).collect().toSeq
    val dirA = Scratch.dir("lc_spec_a")
    val dirB = Scratch.dir("lc_spec_b")
    try {
      // A: the full lifecycle — append everything, tombstone the slice,
      // compact the tombstones into a physical rewrite
      Similarity.buildIvfPqIndex(emb.filter(col("vec_id") >= splitId), dirA)
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") < splitId), dirA, gen = 1L)
      Similarity.deleteFromIvfPqIndex(emb.filter(delPred).select("vec_id"), dirA)
      val preCompact = serve(dirA)
      Similarity.compactIvfPqIndex(spark, dirA)
      val postCompact = serve(dirA)
      // B: the twin where the deleted vectors were never appended at all
      // (same codebooks: the deleted slice is outside the training slice)
      Similarity.buildIvfPqIndex(emb.filter(col("vec_id") >= splitId), dirB)
      Similarity.appendToIvfPqIndex(
        emb.filter(col("vec_id") < splitId && !delPred), dirB, gen = 1L)
      val twin = serve(dirB)
      assert(postCompact === preCompact,
        "compaction changed served results — the physical rewrite lost or resurrected rows")
      assert(postCompact === twin,
        "lifecycle index diverged from the never-appended twin — a tombstone or compaction bug")
      // and the tombstone set is actually gone after compaction
      assert(!new java.io.File(s"$dirA/tombstones").exists(),
        "compaction left the tombstone artifact behind")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirB))
    }
  }

  test("retrain restores recall and drift signals the need on a drifted corpus") {
    import org.apache.spark.sql.functions._
    // old corpus = the planted clusters; drifted arrivals = the same
    // clusters translated +3.0 on every dim — a region the frozen
    // codebooks never saw (appended ids 200..399)
    val shifted = clustered.select((col("vec_id") + lit(200L)).as("vec_id"),
      transform(col("embedding"), x => x + lit(3.0f)).as("embedding"),
      col("label"))
    val all = clustered.unionByName(shifted)
    val dir = Scratch.dir("retrain_spec")
    try {
      Similarity.buildIvfPqIndex(clustered, dir)
      Similarity.appendToIvfPqIndex(shifted, dir, gen = 1L)
      // drift census: the appended generation must read as drifted
      val drift = Similarity.indexDrift(spark, dir, all).collect()
        .map(r => r.getLong(0) -> r.getAs[Double]("mean_d2")).toMap
      info(f"drift mean d2: gen0 ${drift(0L)}%.3f, gen1 ${drift(1L)}%.3f")
      assert(drift(1L) > 2.0 * drift(0L),
        "appended shifted cluster did not register as drifted")
      // the old generation ages out (the replacement-drift scenario a
      // production store actually retrains for: the live distribution IS
      // the drifted one)
      Similarity.deleteFromIvfPqIndex(clustered.select("vec_id"), dir)
      val queries = shifted.filter(col("vec_id") < 220)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val livev = shifted.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toMap
      val exact = livev.keys.filter(_ < 220).flatMap { q =>
        livev.toSeq.filter(_._1 != q).map { case (id, v) =>
          (v.zip(livev(q)).map { case (a, b) => (a - b) * (a - b) }.sum, id)
        }.sorted.take(10).map { case (_, id) => (q, id) }
      }.toSet
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val got = pairs(df)
        (exact & got).size.toDouble / exact.size
      }
      val pre = recallOf(Similarity.searchIvfPqIndex(spark, dir, queries, 10))
      // retrain refits quantizers on the LIVE corpus (the shifted region
      // the frozen codebooks never covered) and folds the tombstones in
      Similarity.retrainIvfPqIndex(spark, dir, all)
      val post = recallOf(Similarity.searchIvfPqIndex(spark, dir, queries, 10))
      info(f"recall@10 on drifted queries: pre-retrain $pre%.3f, post-retrain $post%.3f")
      assert(post >= pre,
        f"retrain degraded recall: $pre%.3f -> $post%.3f")
      assert(post > 0.3,
        f"post-retrain recall $post%.3f — fresh codebooks failed to cover the drifted region")
      // generation counter reset: every live row re-encoded at gen 0
      val gens = spark.read.parquet(s"$dir/cells")
        .select(col("gen").cast("long")).distinct().collect().map(_.getLong(0))
      assert(gens.toSeq == Seq(0L), s"retrain must reset generations, saw ${gens.toSeq}")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** Planted clusters: 20 centers × 10 members, members = center + small
    * noise — data with real neighbor structure, the regime ANN indexes
    * are built for (the warehouse embeddings are near-random, which is
    * why the floors on them are low). `label` carries the true cluster,
    * so the label-centroid codebook init sees the planted structure —
    * mirroring a production build where the coarse quantizer is trained
    * on the corpus it indexes. Members are interleaved across clusters
    * (vec_id = m*20 + c) so the query set (vec_id < nQ) spans ALL 20
    * clusters instead of exercising just the first two.
    */
  private lazy val clustered: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(7)
    val dim = 64
    val rows = (0 until 20).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 10).map { m =>
        val v = center.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat)
        (m * 20L + c, v.toSeq, c)
      }
    }
    val sp = spark
    import sp.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  test("LSH ANN recall is high on data with real neighbor structure") {
    val emb = clustered
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 5))
    val ann = pairs(Similarity.lshAnnTopK(emb, 4, 8, 5)
      .filter(org.apache.spark.sql.functions.col("query_id") < nQ))
    val recall = (exact & ann).size.toDouble / exact.size
    info(f"clustered LSH recall@5 = $recall%.3f")
    assert(recall >= 0.8,
      f"recall $recall%.3f on clustered data — LSH should find planted neighbors")
  }

  test("IVF nprobe widens recall: recall(nprobe=2) > recall(nprobe=1)") {
    // the warehouse embeddings are near-random, so a query's true
    // neighbors scatter across cells — exactly the regime where probing
    // more cells must recover more of the exact top-k
    val emb = Tables.embeddings(spark, sf0001)
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val r1 = (exact & pairs(Similarity.ivfSearch(emb, nQ, 10, nprobe = 1)))
      .size.toDouble / exact.size
    // each ivfSearch call persists its codebook + assignment subplans;
    // CacheRegistry.release() is the deterministic per-call reclaim for
    // long-lived sessions (the targeted alternative to clearCache)
    CacheRegistry.release()
    assert(CacheRegistry.trackedCount === 0)
    val r2 = (exact & pairs(Similarity.ivfSearch(emb, nQ, 10, nprobe = 2)))
      .size.toDouble / exact.size
    CacheRegistry.release()
    info(f"IVF recall@10: nprobe=1 $r1%.3f, nprobe=2 $r2%.3f")
    assert(r2 > r1,
      f"nprobe=2 recall $r2%.3f did not improve on nprobe=1 $r1%.3f")
    assert(r1 > 0.0, "nprobe=1 found none of the exact neighbors")
  }

  test("k-means total distortion is monotone non-increasing across iterations") {
    val emb = Tables.embeddings(spark, sf0001)
    val ds = Similarity.kmeansDistortions(emb, 4)
    info("distortions: " + ds.map(d => f"$d%.2f").mkString(" -> "))
    ds.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, f"distortion rose: $a%.4f -> $b%.4f (Lloyd's must not increase it)")
    case _ => ()
    }
    CacheRegistry.release()
  }

  test("IVF on a trained codebook still finds exact neighbors (recall > 0, k rows per query)") {
    val emb = Tables.embeddings(spark, sf0001)
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val trained = Similarity.ivfSearch(emb, nQ, 10, nprobe = 1, trainIters = 2)
    val got = trained.collect()
    assert(got.length === nQ * 10, s"expected ${nQ * 10} rows, got ${got.length}")
    val recall = (exact & pairs(trained)).size.toDouble / exact.size
    info(f"trained-codebook IVF recall@10 = $recall%.3f")
    assert(recall > 0.0, "trained-codebook IVF found none of the exact neighbors")
    CacheRegistry.release()
  }

  test("PQ encoding conserves vectors and refines beyond the coarse codebook") {
    val emb = Tables.embeddings(spark, sf0001)
    val cells = Similarity.pqEncode(emb).collect()
    // every vector lands in exactly one (code1, code2) cell
    assert(cells.map(_.getAs[Long]("n_vectors")).sum === emb.count())
    // the product of two sub-codebooks must resolve finer than either
    // alone: more occupied cells than coarse labels
    val nLabels = emb.select("label").distinct().count()
    assert(cells.length > nLabels,
      s"${cells.length} PQ cells vs $nLabels labels — product quantization added no granularity")
    CacheRegistry.release()
  }

  test("PQ-ADC search returns k estimates per query and overlaps the exact top-k") {
    val emb = Tables.embeddings(spark, sf0001)
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val adc = Similarity.pqSearch(emb, nQ, 10)
    val got = adc.collect()
    assert(got.length === nQ * 10, s"expected ${nQ * 10} rows, got ${got.length}")
    val recall = (exact & pairs(adc)).size.toDouble / exact.size
    info(f"PQ-ADC recall@10 vs exact cosine = $recall%.3f")
    // ADC estimates squared L2 from two quantized halves; on near-random
    // embeddings agreement with the exact cosine ranking is inherently
    // loose — the floor catches a broken code/lookup join (recall ~0)
    assert(recall > 0.0, "PQ-ADC found none of the exact neighbors")
    CacheRegistry.release()
  }

  test("IVF-PQ composed search: k rows per query, overlaps exact, candidate set bounded") {
    val emb = Tables.embeddings(spark, sf0001)
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val ivfpq = Similarity.ivfPqSearch(emb, nQ, 10, nprobe = 2, trainIters = 2)
    val got = ivfpq.collect()
    assert(got.length === nQ * 10, s"expected ${nQ * 10} rows, got ${got.length}")
    val rComposed = (exact & pairs(ivfpq)).size.toDouble / exact.size
    CacheRegistry.release()
    // probing more cells monotonically widens the candidate set the ADC
    // stage ranks — coverage of the exact neighbors must not shrink
    val rWide = (exact & pairs(
      Similarity.ivfPqSearch(emb, nQ, 10, nprobe = 4, trainIters = 2)))
      .size.toDouble / exact.size
    CacheRegistry.release()
    info(f"IVF-PQ recall@10: nprobe=2 $rComposed%.3f, nprobe=4 $rWide%.3f")
    assert(rComposed > 0.0, "IVF-PQ found none of the exact neighbors")
    assert(rWide >= rComposed - 0.10,
      f"nprobe=4 recall $rWide%.3f collapsed vs nprobe=2 $rComposed%.3f — probe widening broke the candidate join")
  }

  test("PQ-ADC recall is high on data with real neighbor structure") {
    // the clustered twin of the random-data floor above: with planted
    // neighbor structure the ADC estimate must rank the true neighbors
    // at the top, not merely overlap them (recall@10 >= 0.5 is the
    // index-quality bar; the random-data floor only catches collapse)
    val emb = clustered
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val adc = Similarity.pqSearch(emb, nQ, 10)
    val recall = (exact & pairs(adc)).size.toDouble / exact.size
    CacheRegistry.release()
    info(f"clustered PQ-ADC recall@10 = $recall%.3f")
    assert(recall >= 0.5,
      f"recall $recall%.3f on clustered data — PQ codes no longer separate planted clusters")
  }

  test("IVF-PQ and residual IVF-PQ recall are high on data with real neighbor structure") {
    val emb = clustered
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val rComposed = (exact & pairs(
      Similarity.ivfPqSearch(emb, nQ, 10, nprobe = 2, trainIters = 2)))
      .size.toDouble / exact.size
    CacheRegistry.release()
    val rResidual = (exact & pairs(
      Similarity.ivfPqResidualSearch(emb, nQ, 10, nprobe = 2, trainIters = 2)))
      .size.toDouble / exact.size
    CacheRegistry.release()
    info(f"clustered recall@10: IVF-PQ $rComposed%.3f, residual $rResidual%.3f")
    assert(rComposed >= 0.5,
      f"IVF-PQ recall $rComposed%.3f on clustered data — composed index lost the planted neighbors")
    assert(rResidual >= 0.5,
      f"residual IVF-PQ recall $rResidual%.3f on clustered data — residual encoding lost the planted neighbors")
  }

  test("pqRerankSearch: exact distances, no recall loss vs raw PQ, shortlist-bounded") {
    val emb = clustered
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val rPq = (exact & pairs(Similarity.pqSearch(emb, nQ, 10))).size.toDouble / exact.size
    CacheRegistry.release()
    val reranked = Similarity.pqRerankSearch(emb, nQ, 10, m = 30)
    val got = reranked.collect()
    CacheRegistry.release()
    assert(got.length === nQ * 10, s"expected ${nQ * 10} rows, got ${got.length}")
    val rRr = (exact & pairs(reranked)).size.toDouble / exact.size
    CacheRegistry.release()
    info(f"clustered recall@10: PQ-ADC $rPq%.3f, PQ+exact-rerank $rRr%.3f")
    // the shortlist (m=30) is a superset of PQ's top-10, and exact
    // re-ranking can only promote true neighbors within it
    assert(rRr >= rPq,
      f"re-rank recall $rRr%.3f fell below raw PQ $rPq%.3f — the refinement stage is discarding true neighbors")
    // emitted distances must be the TRUE squared L2, not the ADC estimate
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    got.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val d2 = vecs(q).zip(vecs(n)).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(r.getAs[Double]("d2") - d2) < 1e-4,
        s"query $q neighbor $n: emitted ${r.getAs[Double]("d2")} != exact $d2")
    }
    // per-query order is by ascending exact distance
    got.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val ds = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("d2")).toSeq
      assert(ds === ds.sorted, "ranks not ordered by exact distance")
    }
  }

  test("ivfPqRerankSearch: full serving stack keeps recall and emits exact distances") {
    val emb = clustered
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val rIvfPq = (exact & pairs(
      Similarity.ivfPqSearch(emb, nQ, 10, nprobe = 2, trainIters = 2)))
      .size.toDouble / exact.size
    CacheRegistry.release()
    val reranked = Similarity.ivfPqRerankSearch(emb, nQ, 10, m = 30,
      nprobe = 2, trainIters = 2)
    val got = reranked.collect()
    val rRr = (exact & pairs(reranked)).size.toDouble / exact.size
    CacheRegistry.release()
    assert(got.length === nQ * 10, s"expected ${nQ * 10} rows, got ${got.length}")
    info(f"clustered recall@10: IVF-PQ $rIvfPq%.3f, +exact-rerank $rRr%.3f")
    assert(rRr >= rIvfPq,
      f"re-rank recall $rRr%.3f fell below IVF-PQ $rIvfPq%.3f — refinement discarded true neighbors")
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    got.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val d2 = vecs(q).zip(vecs(n)).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(r.getAs[Double]("d2") - d2) < 1e-4,
        s"query $q neighbor $n: emitted ${r.getAs[Double]("d2")} != exact $d2")
    }
  }

  test("SQ8: codes saturate at ±127, error bounded by the rounding law, search recall ~exact") {
    val emb = Tables.embeddings(spark, sf0001)
    val census = Similarity.sq8Quantize(emb).collect()
    assert(census.length === emb.count())
    census.foreach { r =>
      val (d, scale, err) = (r.getAs[Long]("n_dims"),
        r.getAs[Double]("scale"), r.getAs[Double]("l2_err"))
      // per-element rounding error is <= scale/2, so the L2 error is
      // <= sqrt(d) * scale / 2 (+ slack for the round-6 on scale itself)
      assert(err <= math.sqrt(d.toDouble) * (scale + 1e-6) / 2 + 1e-6,
        s"vec ${r.getAs[Long]("vec_id")}: l2_err $err breaks the rounding bound")
      assert(r.getAs[Long]("n_sat") >= 1,
        "symmetric max-abs scaling must saturate at least the max element")
    }
    // asymmetric quantized scan loses almost nothing at int8 precision
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val sq = pairs(Similarity.sq8Search(emb, nQ, 10))
    CacheRegistry.release()
    val recall = (exact & sq).size.toDouble / exact.size
    info(f"SQ8 asymmetric-scan recall@10 vs exact = $recall%.3f")
    assert(recall >= 0.9,
      f"recall $recall%.3f — int8 reconstruction should be near-lossless even on near-random vectors")
  }

  test("SQ8 zero-vector guard: scale 0, all-zero codes, zero error, no NaN") {
    val sp = spark
    import sp.implicits._
    // the all-zero vector is the one input where x/scale is 0/0 — the
    // per-element guard must emit code 0, not NaN
    val emb = Seq(
      (0L, Seq(0f, 0f, 0f, 0f), 0),
      (1L, Seq(1f, -2f, 3f, -4f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.sq8Quantize(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    val zero = got(0L)
    assert(zero.getAs[Double]("scale") === 0.0 &&
           zero.getAs[Long]("sum_code") === 0L &&
           zero.getAs[Double]("l2_err") === 0.0,
      s"zero vector quantized wrong: $zero")
    val live = got(1L)
    assert(live.getAs[Double]("scale") > 0 && live.getAs[Long]("n_sat") >= 1)
    assert(!live.getAs[Double]("l2_err").isNaN)
    // and the search path survives a zero-vector candidate (norm 0 makes
    // its cosine null/NaN-free only because the zero vector can never be
    // in anyone's top-k with sim ordering — the query set here avoids it)
    val res = Similarity.sq8Search(
      Seq((0L, Seq(1f, 2f, 3f, 4f), 0), (1L, Seq(2f, 3f, 4f, 5f), 0),
          (2L, Seq(5f, 4f, 3f, 2f), 0)).toDF("vec_id", "embedding", "label"),
      nQueries = 1, k = 2).collect()
    assert(res.length === 2 && res.forall(!_.getAs[Double]("sim").isNaN))
  }

  test("semanticDedup collapses each planted cluster to one kept representative") {
    // planted near-dups: every cluster's 10 members are mutual cosine
    // near-dups (intra-cluster cosine ~0.9 at 64 dims, cross-cluster ~0),
    // so at tau=0.8 SemDeDup must keep exactly ONE representative per
    // planted cluster — and it must be the centroid-closest member
    val res = Similarity.semanticDedup(clustered, 0.8, trainIters = 2).collect()
    CacheRegistry.release()
    assert(res.length === 200, s"expected one row per vector, got ${res.length}")
    val byCell = res.groupBy(_.getInt(1))
    assert(byCell.size === 20, s"expected 20 cells, got ${byCell.size}")
    byCell.foreach { case (cell, rows) =>
      val kept = rows.filter(_.getInt(4) === 1)
      assert(kept.length === 1,
        s"cell $cell kept ${kept.length} of ${rows.length} members — planted near-dups did not collapse")
      // the survivor is the member closest to the cell centroid
      val best = rows.minBy(r => (r.getDouble(2), r.getLong(0)))
      assert(kept.head.getLong(0) === best.getLong(0),
        s"cell $cell kept ${kept.head.getLong(0)} but centroid-closest is ${best.getLong(0)}")
      // every dropped member saw at least one qualifying neighbor
      rows.filter(_.getInt(4) === 0).foreach(r =>
        assert(r.getLong(3) >= 1L, s"dropped ${r.getLong(0)} with n_near=0"))
    }
  }

  test("trained-sub-codebook PQ keeps cardinality and does not collapse recall") {
    val emb = Tables.embeddings(spark, sf0001)
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val rLabel = (exact & pairs(Similarity.pqSearch(emb, nQ, 10)))
      .size.toDouble / exact.size
    CacheRegistry.release()
    val trained = Similarity.pqSearch(emb, nQ, 10, trainIters = 2)
    val got = trained.collect()
    assert(got.length === nQ * 10, s"expected ${nQ * 10} rows, got ${got.length}")
    val rTrained = (exact & pairs(trained)).size.toDouble / exact.size
    CacheRegistry.release()
    info(f"PQ-ADC recall@10: label-codebooks $rLabel%.3f, trained $rTrained%.3f")
    assert(rTrained >= rLabel - 0.10,
      f"trained sub-codebooks collapsed recall: $rTrained%.3f vs $rLabel%.3f")
  }

  test("residual IVF-PQ returns k rows per query and tracks the raw-PQ composition") {
    val emb = Tables.embeddings(spark, sf0001)
    val nQ = 20
    val exact = pairs(Similarity.bruteForceTopK(emb, nQ, 10))
    val raw = Similarity.ivfPqSearch(emb, nQ, 10, nprobe = 2, trainIters = 2)
    val rRaw = (exact & pairs(raw)).size.toDouble / exact.size
    CacheRegistry.release()
    val res = Similarity.ivfPqResidualSearch(emb, nQ, 10, nprobe = 2, trainIters = 2)
    val got = res.collect()
    assert(got.length === nQ * 10, s"expected ${nQ * 10} rows, got ${got.length}")
    val rRes = (exact & pairs(res)).size.toDouble / exact.size
    CacheRegistry.release()
    info(f"IVF-PQ recall@10: raw $rRaw%.3f, residual $rRes%.3f")
    assert(rRes > 0.0, "residual IVF-PQ found none of the exact neighbors")
    // residual encoding buys LOWER quantization error at the same code
    // budget — recall must not collapse relative to the raw composition
    assert(rRes >= rRaw - 0.10,
      f"residual recall $rRes%.3f collapsed vs raw $rRaw%.3f — residual join or lookup broken")
  }

  test("TopKAgg reduce/merge equals sort-take under random splits (property)") {
    import graft.functions.VectorMath.{ScoredId, TopKAgg, TopKBuf}
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      xs <- Gen.listOf(Gen.zip(Gen.choose(-100, 100), Gen.choose(0L, 20L)))
      cut <- Gen.choose(0, math.max(xs.size, 1))
    } yield (xs.map { case (s, i) => ScoredId(s / 10.0, i) }, cut)
    val agg = new TopKAgg(5)
    val ord = Ordering.by((s: ScoredId) => (-s.score, s.id))
    val prop = Prop.forAll(gen) { case (xs, cut) =>
      val (a, b) = xs.splitAt(cut)
      val bufA = a.foldLeft(agg.zero)(agg.reduce)
      val bufB = b.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.finish(agg.merge(bufA, bufB))
      merged == xs.sorted(ord).take(5)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("exact top-k is symmetric-consistent: every sim is within [-1, 1]") {
    val topk = Similarity.bruteForceTopK(Tables.embeddings(spark, sf0001), 20, 10)
    val sims = topk.select("sim").collect().map(_.getDouble(0))
    assert(sims.nonEmpty && sims.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("incremental append freezes the codebooks and serves the appended vectors") {
    import org.apache.spark.sql.functions._
    val dir = Scratch.dir("append")
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") >= 100), dir)
    def cb(): Seq[String] = spark.read.parquet(s"$dir/cb1")
      .unionByName(spark.read.parquet(s"$dir/cb2"))
      .collect().map(_.toString).sorted.toSeq
    val before = cb()
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") < 100), dir)
    // append must never touch a quantizer — retraining would invalidate
    // every existing code
    assert(cb() === before, "append mutated a codebook artifact")
    // the appended slice is live: its vectors appear in the cells/codes
    // artifacts and are retrievable (queries live entirely in it)
    assert(spark.read.parquet(s"$dir/cells")
      .filter(col("vec_id") < 100).count() === 100)
    val hits = Similarity.searchIvfPqIndex(spark, dir,
      emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding")), 10)
      .collect()
    CacheRegistry.release()
    assert(hits.nonEmpty)
    hits.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq, s"query $q: ranks not dense")
    }
  }

  test("saved IVF-PQ index serves results identical to the inline search") {
    val saved = Similarity.ivfPqSavedRoundtrip(spark, sf0001).collect().toSeq
    CacheRegistry.release()
    val inline_ = SparkEntry.queries("q_ivfpq_search")(spark, sf0001)
      .collect().toSeq
    CacheRegistry.release()
    assert(saved.nonEmpty && saved === inline_,
      s"saved-index search diverged from inline: ${saved.size} vs ${inline_.size} rows")
  }

  test("index delete: tombstoned ids never surface, results survive compaction") {
    // two independent round-trips (training is deterministic, so the
    // rebuilt artifacts are identical): one served through the tombstone
    // anti-join, one after the physical compaction — same results
    val served = Similarity.ivfPqDeleteRoundtrip(spark, sf0001).collect().toSeq
    CacheRegistry.release()
    val compacted = Similarity.ivfPqDeleteRoundtrip(spark, sf0001, compact = true)
      .collect().toSeq
    CacheRegistry.release()
    assert(served.nonEmpty && served === compacted,
      "tombstone-served and compacted results diverged")
    served.foreach { r =>
      val nid = r.getAs[Long]("neighbor_id")
      assert(!(nid % 10 == 3 && nid >= 20),
        s"deleted id $nid surfaced in the serve results")
    }
  }

  test("compaction physically drops tombstoned rows and clears the tombstone set") {
    import org.apache.spark.sql.functions._
    val dir = Scratch.dir("delete")
    val emb = Tables.embeddings(spark, sf0001)
    Similarity.buildIvfPqIndex(emb, dir)
    val total = spark.read.parquet(s"$dir/cells").count()
    val del = emb.filter(col("vec_id") % 10 === 3 && col("vec_id") >= 20)
      .select(col("vec_id"))
    val nDel = del.count()
    Similarity.deleteFromIvfPqIndex(del, dir)
    assert(new java.io.File(s"$dir/tombstones").exists(),
      "delete wrote no tombstone artifact")
    Similarity.compactIvfPqIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "compaction left the tombstone set behind")
    for (name <- Seq("cells", "codes")) {
      val kept = spark.read.parquet(s"$dir/$name")
      assert(kept.count() === total - nDel, s"$name not physically compacted")
      assert(kept.filter(col("vec_id") % 10 === 3 && col("vec_id") >= 20).count() === 0,
        s"$name still holds deleted rows after compaction")
    }
    CacheRegistry.release()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("tombstone algebra: live rows equal the reference under random append/delete sequences (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // 12 deterministic vectors; each case builds gen-0 artifacts, then
    // applies a random interleaving of appends (rising gens, arbitrary
    // id subsets — including re-appends, the upsert shape) and deletes
    // (arbitrary ids, arbitrary upto_gen). The live set must equal the
    // reference: (id, gen) written minus any (id, gen <= upto_gen)
    val base = (0L until 12L).map(i =>
      (i, (i % 3).toInt, Seq.tabulate(4)(j => ((i * 7 + j * 3) % 11).toDouble / 10.0)))
      .toDF("vec_id", "label", "embedding")
    val opGen = Gen.listOfN(4, for {
      isDelete <- Gen.prob(0.4)
      ids <- Gen.nonEmptyListOf(Gen.choose(0L, 11L)).map(_.distinct)
      upto <- Gen.choose(0L, 4L)
    } yield (isDelete, ids, upto))
    val prop = Prop.forAll(opGen) { ops =>
      val dir = Scratch.dir("tombprop")
      Similarity.buildIvfPqIndex(base, dir, trainIters = 1)
      var written = (0L until 12L).map(i => (i, 0L)).toSet
      var tombs = Set.empty[(Long, Long)]
      var gen = 0L
      ops.foreach { case (isDelete, ids, upto) =>
        if (isDelete) {
          Similarity.deleteFromIvfPqIndex(ids.toDF("vec_id"), dir, upto)
          tombs ++= ids.map(i => (i, upto))
        } else {
          gen += 1
          Similarity.appendToIvfPqIndex(
            base.filter(col("vec_id").isin(ids: _*)), dir, gen)
          written ++= ids.map(i => (i, gen))
        }
      }
      val expected = written.filterNot { case (id, g) =>
        tombs.exists { case (tid, u) => tid == id && g <= u }
      }
      val got = Similarity.liveRows(spark, dir, s"$dir/cells")
        .select(col("vec_id"), col("gen").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      CacheRegistry.release()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      got == expected
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("saved-index re-rank serve equals the inline serving stack; filtered serve honors the predicate") {
    val saved = Similarity.ivfPqSavedRerankRoundtrip(spark, sf0001).collect().toSeq
    CacheRegistry.release()
    val inline_ = SparkEntry.queries("q_ivfpq_rerank")(spark, sf0001).collect().toSeq
    CacheRegistry.release()
    assert(saved.nonEmpty && saved === inline_,
      s"from-files re-rank diverged from inline: ${saved.size} vs ${inline_.size} rows")
    val filtered = Similarity.ivfPqSavedFilteredRoundtrip(spark, sf0001).collect()
    CacheRegistry.release()
    val labelOf = Tables.embeddings(spark, sf0001).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(filtered.nonEmpty)
    filtered.foreach { r =>
      assert(labelOf(r.getAs[Long]("neighbor_id")) % 2 === 0,
        s"odd-labeled neighbor leaked through the from-files filtered serve")
    }
  }

  test("filtered search: every hit satisfies the predicate, ranks stay dense (filter-then-rank)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val hits = Similarity.ivfSearchFiltered(emb, 20, 10, col("label") % 2 === 0)
      .collect()
    CacheRegistry.release()
    assert(hits.nonEmpty)
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the predicate bounds the CANDIDATES: no odd-labeled neighbor may
    // appear at any rank (rank-then-drop would leak them)
    hits.foreach { r =>
      assert(labelOf(r.getAs[Long]("neighbor_id")) % 2 === 0,
        s"odd-labeled neighbor ${r.getAs[Long]("neighbor_id")} leaked through the filter")
    }
    hits.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq, s"query $q: ranks not dense")
    }
  }

  test("RAG encoder seam: a swapped deterministic encoder flows end-to-end") {
    import org.apache.spark.sql.{DataFrame => DF}
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val default = Similarity.ragRetrieve(docs).collect().toSeq
    CacheRegistry.release()
    // a genuinely different encoder — component-wise negation of the
    // stand-in. Negation cancels in every pairwise dot product, so the
    // retrieval must be BIT-identical: a strong check that the seam
    // carries the whole serving chain and nothing is hardwired to the
    // default encoder
    val negated: DF => DF = chunks =>
      Similarity.chunkEmbeddingsFrom(chunks, 8, 8)
        .withColumn("embedding", transform(col("embedding"), x => -x))
    val viaSeam = Similarity.ragRetrieve(docs, encoder = Some(negated))
      .collect().toSeq
    CacheRegistry.release()
    assert(viaSeam.nonEmpty && viaSeam === default,
      s"negated-encoder retrieval diverged: ${viaSeam.size} vs ${default.size} rows")
  }

  test("ragDocRetrieve collapses chunk hits to parent docs consistently") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val chunkHits = Similarity.ragRetrieve(docs).collect()
    CacheRegistry.release()
    val docHits = Similarity.ragDocRetrieve(docs).collect()
    CacheRegistry.release()
    assert(docHits.nonEmpty)
    // ground truth from the chunk-level output: per (query, doc) the best
    // (min) distance and the hit count
    val byQueryDoc = chunkHits.groupBy(r =>
      (r.getAs[Long]("q_doc_id"), r.getAs[Long]("q_chunk_id"), r.getAs[Long]("doc_id")))
    assert(docHits.length === byQueryDoc.size)
    docHits.foreach { r =>
      val key = (r.getAs[Long]("q_doc_id"), r.getAs[Long]("q_chunk_id"),
        r.getAs[Long]("doc_id"))
      val hs = byQueryDoc(key)
      assert(r.getAs[Double]("best_d2") === hs.map(_.getAs[Double]("d2")).min,
        s"$key: best_d2 is not the min chunk distance")
      assert(r.getAs[Long]("n_chunk_hits") === hs.length.toLong)
    }
    // doc ranks dense per query chunk, ordered by (best_d2, doc_id)
    docHits.groupBy(r => (r.getAs[Long]("q_doc_id"), r.getAs[Long]("q_chunk_id")))
      .foreach { case (q, rs) =>
        val sorted = rs.sortBy(_.getAs[Long]("doc_rank"))
        assert(sorted.map(_.getAs[Long]("doc_rank")).toSeq ===
          (1L to rs.length).toSeq, s"$q: doc ranks not dense")
        val keys = sorted.map(r => (r.getAs[Double]("best_d2"), r.getAs[Long]("doc_id")))
        assert(keys === keys.sorted, s"$q: docs not ordered by (best_d2, doc_id)")
      }
  }

  test("ragRetrieve returns provenance spans that lie inside their source documents") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val hits = Similarity.ragRetrieve(docs).collect()
    CacheRegistry.release()
    assert(hits.nonEmpty, "no retrieval hits")
    // ground truth: per-document token counts from the same tokenizer
    val nTok = docs.select(col("doc_id"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hits.foreach { r =>
      val (qd, doc) = (r.getAs[Long]("q_doc_id"), r.getAs[Long]("doc_id"))
      val (start, n) = (r.getAs[Long]("start_tok"), r.getAs[Long]("n_tok"))
      assert(qd < 10, s"query doc $qd outside the query set")
      // the retrieved span must be a REAL span of the source document —
      // the provenance contract a RAG generator depends on
      assert(n > 0 && start >= 0 && start + n <= nTok(doc),
        s"span [$start, ${start + n}) outside doc $doc (${nTok(doc)} tokens)")
      // a query chunk never retrieves itself
      assert(!(qd == doc && r.getAs[Long]("q_chunk_id") == r.getAs[Long]("chunk_id")),
        s"query ($qd, ${r.getAs[Long]("q_chunk_id")}) retrieved itself")
    }
    // ranks are dense 1..k per query chunk
    hits.groupBy(r => (r.getAs[Long]("q_doc_id"), r.getAs[Long]("q_chunk_id")))
      .foreach { case (q, rs) =>
        val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
        assert(ranks === (1L to ranks.length).toSeq, s"$q: ranks not dense")
      }
  }

  test("annRecall: one row per query, n_hit is the true overlap of the two searches") {
    val emb = Tables.embeddings(spark, sf0001)
    val (nq, k) = (10, 5)
    val r = Similarity.annRecall(emb, nq, k, nprobe = 2, trainIters = 1)
      .collect()
    assert(r.length === nq, s"expected $nq rows, got ${r.length}")
    r.foreach { row =>
      val (nHit, recall) = (row.getLong(1), row.getDouble(2))
      assert(nHit >= 0 && nHit <= k, s"n_hit $nHit outside [0, $k]")
      assert(math.abs(recall - nHit.toDouble / k) < 1e-9,
        s"recall $recall != n_hit/$k")
    }
    // cross-check the overlap count independently via an inner join of
    // the two searches' id sets
    val ann = Similarity.ivfPqSearch(emb, nq, k, nprobe = 2, trainIters = 1)
      .select("query_id", "neighbor_id")
    val truth = Similarity.exactL2TopK(emb, nq, k)
      .select("query_id", "neighbor_id")
    val overlap = truth.join(ann, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").count()
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.foreach { row =>
      assert(row.getLong(1) === overlap.getOrElse(row.getLong(0), 0L),
        s"query ${row.getLong(0)}: n_hit disagrees with the direct overlap")
    }
  }

  test("retrievalEval: vector tier scores perfect against its own truth, metrics bounded") {
    val docs = Tables.documents(spark, sf0001)
    val rows = Similarity.retrievalEval(docs).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ===
      Seq("bm25", "bm25_prf", "hybrid", "hybrid_3way", "hybrid_wsum",
        "maxsim", "ql", "vector"))
    rows.foreach { r =>
      assert(r.getLong(1) === 10L, "n_queries drifted")
      val (rec, mrr) = (r.getDouble(2), r.getDouble(3))
      assert(rec >= 0.0 && rec <= 1.0 && mrr >= 0.0 && mrr <= 1.0,
        s"${r.getString(0)}: metric outside [0,1]")
    }
    val vec = rows.find(_.getString(0) == "vector").get
    // the truth IS the vector tier's top-5, so recall@10 and MRR@10 are
    // exactly 1 — the eval harness's self-consistency anchor
    assert(vec.getDouble(2) === 1.0 && vec.getDouble(3) === 1.0,
      "vector tier not perfect against its own truth — the eval join is broken")
  }

  test("tiers memo: corpus-keyed entries registered and cleared by CacheRegistry.release") {
    val docs = Tables.documents(spark, sf0001)
    CacheRegistry.release()
    assert(CacheRegistry.memoEntryCount === 0)
    val a = Similarity.retrievalEval(docs, corpusKey = Some(sf0001)).collect()
    assert(CacheRegistry.memoEntryCount >= 1,
      "corpus-keyed eval did not register its memo entry")
    // second census reads the memoized tiers frame — values identical
    val b = Similarity.retrievalEval(docs, corpusKey = Some(sf0001)).collect()
    assert(a.map(_.toString).sorted.toSeq === b.map(_.toString).sorted.toSeq)
    CacheRegistry.release()
    assert(CacheRegistry.memoEntryCount === 0,
      "release() must clear the localCheckpoint memos (ADVICE r11: unbounded map)")
  }

  test("diverseTopK: per-language cap holds, ranks dense, results from the pool") {
    val docs = Tables.documents(spark, sf0001)
    val got = Similarity.diverseTopK(docs).collect()
    got.groupBy(r => (r.getAs[Long]("query_id"), r.getAs[String]("lang")))
      .foreach { case (ql, rs) =>
        assert(rs.length <= 2, s"$ql: per-language cap violated")
      }
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq, s"query $q: ranks not dense")
      assert(ranks.length <= 5, s"query $q: more than k results")
    }
    val pool = pairs(Similarity.docSearch(docs, 10, 20))
    assert(got.forall(r => pool.contains(
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))),
      "diversified result not drawn from the vector top-20 pool")
  }

  test("hybridWeighted: scores are convex combinations, a both-list topper ranks first") {
    val docs = Tables.documents(spark, sf0001)
    val got = Similarity.hybridWeighted(docs).collect()
    got.foreach { r =>
      val s = r.getAs[Double]("wsum")
      assert(s >= 0.0 && s <= 1.0 + 1e-9,
        s"fused score $s outside the convex range")
    }
    // per query, scores are non-increasing in rank
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ss = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("wsum"))
      assert(ss.sameElements(ss.sortBy(-(_: Double))),
        s"query $q: fused scores not monotone in rank")
    }
  }

  test("hybrid serve from artifacts is value-identical to the inline fusion") {
    val docs = Tables.documents(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("rrf"))).toSet
    assert(rows(Similarity.hybridSavedRoundtrip(spark, docs)) ===
      rows(Similarity.hybridRrf(docs)),
      "deployed hybrid (posting store + vector store) drifted from inline")
  }

  test("hardNegatives: positive is the vector top-1, negatives are BM25 hits outside the vector top-t") {
    val docs = Tables.documents(spark, sf0001)
    val got = Similarity.hardNegatives(docs).collect()
    assert(got.nonEmpty, "no mined triples")
    val vec = Similarity.docSearch(docs, 10, 10).collect()
    val vtop = vec.filter(_.getAs[Long]("rank") <= 5)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pos1 = vec.filter(_.getAs[Long]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val lexTop = pairs(graft.operators.TextAnalysis.bm25TopK(docs, 10, 10))
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("neg_rank")).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq, s"query $q: neg ranks not dense")
      assert(ranks.length <= 3, s"query $q: more than nNeg negatives")
      rs.foreach { r =>
        assert(r.getAs[Long]("pos_id") === pos1(q),
          s"query $q: positive is not the vector rank-1")
        val neg = r.getAs[Long]("neg_id")
        assert(!vtop.contains((q, neg)),
          s"query $q: negative $neg sits inside the vector top-5 — not hard")
        assert(lexTop.contains((q, neg)),
          s"query $q: negative $neg not drawn from the BM25 top-10")
      }
    }
  }

  test("mmrTopK: greedy picks are distinct pool members; step 1 is the pure-relevance argmax") {
    val docs = Tables.documents(spark, sf0001)
    val got = Similarity.mmrTopK(docs).collect()
    val vec = Similarity.docSearch(docs, 10, 8).collect()
    val pool = vec.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val top1 = vec.filter(_.getAs[Long]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq, s"query $q: steps not dense")
      assert(ranks.length === 4, s"query $q: expected k=4 selections")
      val picks = rs.map(_.getAs[Long]("neighbor_id"))
      assert(picks.distinct.length === picks.length,
        s"query $q: a candidate was selected twice")
      picks.foreach(p => assert(pool.contains((q, p)),
        s"query $q: pick $p not from the vector top-8 pool"))
      val first = rs.find(_.getAs[Long]("rank") == 1L).get
      assert(first.getAs[Long]("neighbor_id") === top1(q),
        s"query $q: step 1 is not the pure-relevance argmax")
    }
    // diversification bites: on at least one query the MMR order differs
    // from the pure-similarity order (else the penalty term is dead code)
    val pure = vec.filter(_.getAs[Long]("rank") <= 4)
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq }
    val mmr = got.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq }
    assert(mmr.exists { case (q, seq) => pure.get(q).exists(_ != seq) },
      "MMR reproduced pure top-k on every query — the diversity penalty never fired")
  }

  test("hybridRrf3: fused score is the exact sum of per-list RRF terms") {
    val docs = Tables.documents(spark, sf0001)
    val m = 10
    val lists = Seq(
      graft.operators.TextAnalysis.bm25TopK(docs, 10, m),
      graft.operators.TextAnalysis.qlDirichletTopK(docs, 10, m),
      Similarity.docSearch(docs, 10, m))
    val ranks = lists.flatMap(_.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Long]("rank")))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val got = Similarity.hybridRrf3(docs).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val expected = q6(ranks(key).map(rk =>
        BigDecimal(java.math.BigDecimal.valueOf(q6(1.0 / (60.0 + rk))))).sum.toDouble)
      assert(math.abs(r.getAs[Double]("rrf3") - expected) < 1e-9,
        s"$key: fused ${r.getAs[Double]("rrf3")} != sum-of-terms $expected")
    }
  }

  test("ceRerank: shortlist provenance, dense ranks, and a swapped scorer flows through the seam") {
    val docs = Tables.documents(spark, sf0001)
    val got = Similarity.ceRerank(docs).collect()
    val shortlist = pairs(Similarity.hybridRrf(docs, 10, 10, 10))
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq, s"query $q: ranks not dense")
      assert(ranks.length <= 5, s"query $q: more than k results")
      rs.foreach { r =>
        assert(shortlist.contains((q, r.getAs[Long]("neighbor_id"))),
          s"query $q: re-ranked hit not from the hybrid shortlist")
        val s = r.getAs[Double]("ce")
        assert(s >= 0.0 && s <= 1.000001, s"stand-in score $s out of range")
      }
    }
    // the seam: a scorer preferring SHORT candidates re-orders the same
    // shortlist by ascending text length — proof the injected model
    // reaches the ranking untouched
    import org.apache.spark.sql.functions.{length => slen}
    val short = Similarity.ceRerank(docs,
        scorer = Some((_, c) => -slen(c).cast("double")))
      .collect()
    val docLen = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").length).toMap
    short.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val lens = rs.sortBy(_.getAs[Long]("rank"))
        .map(r => docLen(r.getAs[Long]("neighbor_id")))
      assert(lens.sameElements(lens.sorted),
        s"query $q: injected shortest-first scorer did not control the ranking")
    }
  }

  test("mmrTopK matches a driver-side greedy reference, trajectory for trajectory") {
    // the greedy selection is re-implemented here in plain Scala over the
    // collected pooled vectors (BigDecimal dots = the operator's DECIMAL
    // accumulation, then the same double divisions) and the two
    // trajectories must agree EXACTLY — pick identity AND step order per
    // query. This is the differential test that catches an off-by-one in
    // the selected-set join, a wrong tie-break, or a stale penalty set.
    val docs = Tables.documents(spark, sf0001)
    val (k, m, lam, pen) = (4, 8, 0.7, 0.3)
    val byDoc: Map[Long, Array[BigDecimal]] =
      Similarity.docEmbeddings(docs).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("dim"),
          r.getAs[Double]("mean_v")))
        .groupBy(_._1)
        .map { case (d, rs) =>
          // mirror the operator's cast("decimal(18,6)"): valueOf's
          // shortest-string repr, then HALF_UP to 6 — NOT the exact
          // binary expansion BigDecimal(double) would take
          d -> rs.sortBy(_._2).map(x =>
            BigDecimal(java.math.BigDecimal.valueOf(x._3))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (byDoc(a), byDoc(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum.toDouble
      val na = math.sqrt(va.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(vb.map(x => x * x).sum.toDouble)
      dot / (na * nb)
    }
    val queries = byDoc.keys.filter(_ < 10).toSeq.sorted
    val expected = queries.flatMap { q =>
      val cands = byDoc.keys.filter(c => c != q &&
        byDoc(c).map(x => x * x).sum.toDouble > 0).toSeq
      val pool = cands.map(c => c -> cos(q, c))
        .sortBy { case (c, s) => (-s, c) }.take(m)
      var selected = Vector.empty[Long]
      (1 to k).map { step =>
        val remaining = pool.filterNot { case (c, _) => selected.contains(c) }
        val scored = remaining.map { case (c, rel) =>
          val sc = if (selected.isEmpty) rel
            else lam * rel - pen * selected.map(s => cos(c, s)).max
          (c, sc)
        }
        val (pick, score) = scored.minBy { case (c, sc) => (-sc, c) }
        selected :+= pick
        (q, step.toLong, pick, math.floor(score * 1e6 + 0.5) / 1e6)
      }
    }.toSet
    val got = Similarity.mmrTopK(docs).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("mmr"))).toSet
    // scores compare after the display round; trajectory must be exact
    def traj(s: Set[(Long, Long, Long, Double)]) = s.map(t => (t._1, t._2, t._3))
    assert(traj(got) === traj(expected),
      "MMR trajectory diverged from the greedy reference")
  }

  test("docTopics: clusters partition the tokenized corpus, labels rank by weight") {
    val docs = Tables.documents(spark, sf0001)
    val topics = Similarity.docTopics(docs).collect()
    assert(topics.nonEmpty)
    val nTokenized = docs
      .filter(org.apache.spark.sql.functions.size(
        graft.operators.TextAnalysis.tokens(
          org.apache.spark.sql.functions.col("text"))) > 0).count()
    val sizes = topics.map(r =>
      r.getAs[Int]("cluster") -> r.getAs[Long]("n_docs")).toMap
    assert(sizes.values.sum === nTokenized,
      "cluster sizes must partition the tokenized corpus")
    topics.groupBy(_.getAs[Int]("cluster")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("term_rank"))
      assert(sorted.map(_.getAs[Long]("term_rank")).toSeq ===
        (1L to sorted.length.toLong).toSeq)
      val ws = sorted.map(_.getAs[Double]("weight")).toSeq
      assert(ws.zip(ws.tail).forall { case (a, b) => a >= b },
        "label weights must descend within a cluster")
    }
  }

  test("retrievalNdcg: the truth tier scores exactly 1, every tier lands in [0,1]") {
    val docs = Tables.documents(spark, sf0001)
    val rows = Similarity.retrievalNdcg(docs).collect()
    assert(rows.length === 8)
    val byName = rows.map(r =>
      r.getAs[String]("system") -> r.getAs[Double]("mean_ndcg")).toMap
    // the vector tier IS the graded truth: ideal ordering, nDCG = 1
    assert(byName("vector") === 1.0)
    assert(byName.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(rows.forall(_.getAs[Long]("n_queries") === 10L))
  }

  test("maxSimRerank: an identical document saturates MaxSim at its distinct-term count and ranks first") {
    val sp = spark
    import sp.implicits._
    // doc 0 is the query; doc 5 is verbatim-identical, so every query
    // term's max cosine is exactly 1.0 and MaxSim = |distinct terms|.
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha omega omega sigma"),
      (2L, "beta sigma tau upsilon"),
      (3L, "gamma tau rho phi"),
      (4L, "unrelated words entirely here"),
      (5L, "alpha beta gamma delta"),
      (6L, "delta rho phi chi")).toDF("doc_id", "text")
    val got = Similarity.maxSimRerank(docs, nQueries = 1, k = 3, m = 6)
      .collect()
    val byRank = got.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Long]("rank"))
    assert(byRank.nonEmpty)
    assert(byRank.head.getAs[Long]("neighbor_id") === 5L,
      "the verbatim copy must win late interaction")
    assert(byRank.head.getAs[Double]("maxsim") === 4.0,
      "MaxSim of an identical doc is the distinct-term count")
    // every other candidate scores strictly below saturation, and
    // scores are non-increasing down the ranking
    val scores = byRank.map(_.getAs[Double]("maxsim")).toSeq
    assert(scores.tail.forall(_ < 4.0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("pcaPower: recovers an exact axis-aligned principal component " +
       "with unit norm and the positive-sign law") {
    val sp = spark
    import sp.implicits._
    // variance lives entirely on dim 1 and sums to zero -> mean is the
    // origin, one power step lands exactly on e1 and stays there
    val vecs = Seq(-2.0f, -1.0f, 1.0f, 2.0f).zipWithIndex.map {
      case (t, i) => (i.toLong, Array(0.0f, t, 0.0f, 0.0f))
    }
    val got = Similarity.pcaPower(vecs.toDF("vec_id", "embedding"), 3)
      .collect().map(r => r.getInt(0) -> r.getAs[Double]("loading")).toMap
    assert(got === Map(0 -> 0.0, 1 -> 1.0, 2 -> 0.0, 3 -> 0.0))
  }

  test("pcaPower: sf0.001 loading vector is unit-norm, sign-canonical, " +
       "and iteration-stable at depth 3") {
    val emb = Tables.embeddings(spark, sf0001)
    val v = Similarity.pcaPower(emb, 3).collect()
      .map(r => r.getInt(0) -> r.getAs[Double]("loading")).toMap
    assert(v.size === 64)
    val nrm = math.sqrt(v.values.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-4, s"norm drifted: $nrm")
    val dmax = v.minBy { case (d, x) => (-math.abs(x), d) }._1
    assert(v(dmax) > 0.0, "largest-|component| must be positive")
    // the power step is a contraction toward the dominant eigenvector:
    // one more iteration must not move the direction materially. The
    // synthetic embeddings are near-random (eigengap is small — the same
    // property the ANN specs note), so "materially" is a loose 0.95, not
    // machine epsilon; the operator is fixed-depth by design, like
    // kmeansTrain's fixed Lloyd count.
    val v4 = Similarity.pcaPower(emb, 4).collect()
      .map(r => r.getInt(0) -> r.getAs[Double]("loading")).toMap
    val cos = v.keys.map(d => v(d) * v4(d)).sum
    assert(cos > 0.95, s"iteration-3 direction unstable: cos=$cos")
  }
}
