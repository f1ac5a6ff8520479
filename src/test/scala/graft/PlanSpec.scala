package graft

import java.io.ByteArrayOutputStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the properties that make these plans hold at
  * 100 TB are checked as code, not prose: dimension broadcasts, scan-level
  * filter pushdown, map-side partial aggregation, and bucket-co-located
  * joins eliminating the shuffle.
  */
class PlanSpec extends SparkSpec {

  private def planText(df: DataFrame): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("driver contract: queries and oracleSql keys agree (rows-only set is explicit)") {
    // a typo'd key on either side would silently weaken the correctness
    // gate (driver records rows-only instead of hash-matching)
    // q_ann_lsh left this set in round 14 (seeded hyperplanes inline
    // into generated SQL); the four approx-sketch queries left it in
    // round 15 (bounded-pass audit forms: exact values + an in_bound
    // flag the oracle asserts). EVERY query is oracled now — additions
    // to this set need the same design justification in review.
    val rowsOnlyByDesign = Set.empty[String]
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracles without a query: $orphanOracles")
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled === rowsOnlyByDesign,
      s"queries without an oracle beyond the declared rows-only set: ${unoracled -- rowsOnlyByDesign}")
    // bench-form substitutes must shadow real declared queries — a
    // typo'd key here would silently bench the audit form again
    val orphanBench = SparkEntry.benchForms.keySet -- SparkEntry.queries.keySet
    assert(orphanBench.isEmpty, s"benchForms without a query: $orphanBench")
  }

  test("suite-wide plan invariants: every query, one sweep — no cartesian " +
       "product, no un-allowlisted nested-loop join, unpartitioned window, " +
       "or single-partition funnel over an unbounded frame") {
    // PlanSpec's other tests lock invariants per-query; this sweep makes
    // the three global scale laws UNIVERSAL: any future query pays them
    // automatically by being in SparkEntry.queries. Executes every query
    // at sf0.001 (streaming drains included — building the frame IS the
    // run for those) and inspects the returned plan.
    //
    // The laws, with their justified exception classes:
    //  1. No CartesianProduct, ever (text check on the physical plan).
    //  2. Every nested-loop-SHAPED logical join (no equi key in its
    //     condition → plans as BroadcastNestedLoopJoin) must have a
    //     side that is either STATICALLY bounded (maxRows — scalar
    //     censuses, limits, literal codebooks) or EXPLICITLY
    //     broadcast()-hinted. The hint is the developer's reviewed claim
    //     of boundedness where the planner can't prove it — and at
    //     cluster scale a wrongly-hinted side fails fast on the
    //     broadcast size limit instead of quietly becoming a cartesian.
    //     Anything else needs a NAMED allowlist entry with a size-bound
    //     comment.
    //  3. No unpartitioned window outside the named census-size
    //     allowlist.
    //  4. No single-partition funnel (coalesce(1) / repartition(1))
    //     over a frame the optimizer cannot bound — the r12 bug class
    //     where a fact-sized write serializes through one task. Scope
    //     note, stated honestly: this law inspects the RETURNED plan;
    //     coalesce(1) census writes that live INSIDE foreachBatch
    //     drains never appear in it (they are locked by the per-batch
    //     probes and the census-only convention documented at their
    //     sites), so the allowlist below covers returned plans only.
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, EqualNullSafe}
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, LogicalPlan}
    val nestedLoopAllowlist: Set[String] = Set.empty // none needed today
    val singlePartitionAllowlist: Set[String] = Set.empty // none needed today
    def singlePartitionFunnels(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
            if r.numPartitions == 1 && r.child.maxRows.forall(_ > 100000L) =>
          s"coalesce/repartition(1) over unbounded ${r.child.nodeName}"
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
            if r.optNumPartitions.contains(1) &&
               r.child.maxRows.forall(_ > 100000L) =>
          s"repartition(1, expr) over unbounded ${r.child.nodeName}"
      }
    val globalWindowAllowlist: Set[String] = Set(
      // Experiment.sequentialMonitor's running-max over the day census
      // (<= |days| rows at any corpus scale) — Experiment.scala
      "q_ab_sequential",
      // vocabulary token-id assignment: the window runs over only the
      // topK surviving rows of a TakeOrdered (k = the vocab budget, a
      // parameter — bounded by construction) — TextAnalysis.vocabulary.
      // (Its embedders q_vocab_coverage / q_bpe_token_count broadcast
      // the vocab, which erases the window from their final plans — no
      // entries needed.)
      "q_vocab")
    def hasEquiKey(j: LJoin): Boolean = j.condition.exists(c => c.collect {
      case e: EqualTo
        if e.references.intersect(j.left.outputSet).nonEmpty &&
           e.references.intersect(j.right.outputSet).nonEmpty => e
      case e: EqualNullSafe
        if e.references.intersect(j.left.outputSet).nonEmpty &&
           e.references.intersect(j.right.outputSet).nonEmpty => e
    }.nonEmpty)
    def sideOk(j: LJoin, side: LogicalPlan,
               hinted: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo]): Boolean =
      side.maxRows.exists(_ <= 100000L) ||
        hinted.exists(_.strategy.contains(
          org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
    def unboundedNestedLoops(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case j: LJoin if !hasEquiKey(j) &&
            !sideOk(j, j.left, j.hint.leftHint) &&
            !sideOk(j, j.right, j.hint.rightHint) =>
          s"${j.joinType} join, no equi key, no provably small side " +
            s"(left=${j.left.nodeName}, right=${j.right.nodeName})"
      }
    val unpartitionedSpec = "windowspecdefinition\\(([^,)]*)".r
    def unpartitionedWindows(p: String): List[String] =
      unpartitionedSpec.findAllMatchIn(p).map(_.group(1)).filter(first =>
        first.contains(" ASC") || first.contains(" DESC") ||
          first.startsWith("specifiedwindowframe")).toList
    val violations = scala.collection.mutable.ListBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val df = fn(spark, sf0001)
        val p = planText(df)
        if (p.contains("CartesianProduct"))
          violations += s"$name: CartesianProduct"
        val nl = unboundedNestedLoops(df)
        if (nl.nonEmpty && !nestedLoopAllowlist.contains(name))
          violations += s"$name: ${nl.mkString("; ")}"
        val uw = unpartitionedWindows(p)
        if (uw.nonEmpty && !globalWindowAllowlist.contains(name))
          violations += s"$name: unpartitioned window(s): ${uw.mkString("; ")}"
        val sp = singlePartitionFunnels(df)
        if (sp.nonEmpty && !singlePartitionAllowlist.contains(name))
          violations += s"$name: ${sp.mkString("; ")}"
      } catch {
        case e: Exception =>
          violations += s"$name: failed to build plan: ${e.getMessage}"
      }
      CacheRegistry.release()
      spark.catalog.clearCache()
    }
    assert(violations.isEmpty,
      s"\n${violations.size} plan-invariant violations:\n" +
        violations.mkString("\n"))
  }

  test("q_survival_km: no job at DataFrame construction; horizon is an in-plan broadcast scalar") {
    // regression lock for the round-14 finding: survivalKm used to run a
    // driver-side events.agg(max).head() while BUILDING the DataFrame —
    // the plan sweep itself executed a Spark job per construction and
    // the events table was scanned by two separate queries. The horizon
    // is now the winsorize broadcast-scalar device: one query, one plan.
    val ev = Tables.events(spark, sf0001)
    ev.schema // force the read-side schema job outside the measurement
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val df = operators.Events.survivalKm(ev)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"survivalKm construction ran ${after - before} Spark job(s)")
    // and the empty-input grace the eager .head() could not provide
    assert(operators.Events.survivalKm(ev.filter(lit(false))).count() === 0L)
    CacheRegistry.release()
  }

  test("q_range_join: no job at DataFrame construction; first midnight " +
       "is an in-plan broadcast scalar") {
    // same device, same lock: rangeJoinCounts used to run a driver-side
    // base.agg(min).head() to place the 60 interval windows — a Spark
    // job at construction time, a second full events scan, and an NPE
    // on empty input. The minimum day now rides crossJoin(broadcast(...))
    // into the interval frame.
    val ev = Tables.events(spark, sf0001)
    ev.schema // force the read-side schema job outside the measurement
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val df = operators.Events.rangeJoinCounts(ev)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"rangeJoinCounts construction ran ${after - before} Spark job(s)")
    assert(operators.Events.rangeJoinCounts(ev.filter(lit(false))).count() === 0L)
    CacheRegistry.release()
  }

  test("q5 join chain: dims broadcast, region filter pushed to the scan") {
    val p = planText(SparkEntry.queries("q5_local_supplier")(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("PushedFilters"), "no scan-level pushdown in plan")
    assert(p.contains("EqualTo(r_name,EUROPE)"),
      "region predicate did not reach the parquet scan")
  }

  test("pipeline e2e plan has exactly one global sort (the final ORDER BY)") {
    // regression lock for the fingerprintsUnordered fix: a stage operator's
    // oracle-determinism orderBy must not survive into the composed plan as
    // a mid-pipeline range exchange
    val p = planText(SparkEntry.queries("q_pipeline_e2e")(spark, sf0001))
    val rangeExchanges = "rangepartitioning".r.findAllIn(p).size
    assert(rangeExchanges <= 1,
      s"$rangeExchanges range exchanges in the composed pipeline plan — " +
        "a stage's internal orderBy leaked into the composition")
  }

  test("literal-codebook assignment plans with NO join before the census agg") {
    // the streaming-ingest scoring path: codebook inlined as a literal,
    // argmin per row — its batch-equivalent plan must contain zero join
    // operators (the whole point vs the broadcast-join assignment)
    val emb = Tables.embeddings(spark, sf0001)
    val cb = graft.operators.Similarity.coarseCodebook(emb).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
    val df = emb
      .withColumn("assigned", graft.operators.Similarity.assignByLiteralCodebook(
        graft.functions.VectorMath.asDouble(col("embedding")), cb))
      .groupBy("label", "assigned").agg(count(lit(1)).as("n_vectors"))
    val p = planText(df)
    assert(!p.contains("Join"), "literal-codebook assignment plan contains a join:\n" + p.take(2000))
    // and it must agree with the join-based batch assignment
    val lit_ = df.orderBy("label", "assigned").collect().toSeq
    val join_ = SparkEntry.queries("q_ivf_assign")(spark, sf0001).collect().toSeq
    assert(lit_ === join_, "literal-codebook census diverged from the join-based assignment")
    CacheRegistry.release()
  }

  test("chunking plan: no join, pruned 2-column scan, only repartition + oracle sort exchanges") {
    val p = planText(SparkEntry.queries("q_chunk_overlap")(spark, sf0001))
    assert(!p.contains("Join"), "chunking must be a pure map stage:\n" + p.take(2000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "chunk scan reads more than (doc_id, text) — column pruning lost")
    val rangeExchanges = "rangepartitioning".r.findAllIn(p).size
    assert(rangeExchanges <= 1,
      s"$rangeExchanges range exchanges — only the trailing oracle sort is allowed")
  }

  test("SQ8 asymmetric search keeps the broadcast-queries + partial-TopK plan") {
    val p = planText(SparkEntry.queries("q_sq_search")(spark, sf0001))
    assert(p.contains("BroadcastExchange"),
      "query side must broadcast — candidates stream, queries don't shuffle")
    val partials = "ObjectHashAggregate".r.findAllIn(p).size
    assert(partials >= 2,
      s"$partials ObjectHashAggregate nodes — TopKAgg lost its map-side partial aggregation")
    CacheRegistry.release()
  }

  test("re-rank stage 2 broadcasts the query vectors and keeps partial TopK") {
    val p = planText(SparkEntry.queries("q_ann_rerank")(spark, sf0001))
    assert(p.contains("BroadcastExchange"),
      "re-rank plan lost its broadcasts (ADC tables / query vectors)")
    val partials = "ObjectHashAggregate".r.findAllIn(p).size
    // two TopKAgg stages (shortlist m, final k), each partial+final
    assert(partials >= 4,
      s"$partials ObjectHashAggregate nodes — a TopKAgg stage lost partial aggregation")
    CacheRegistry.release()
  }

  test("rag retrieval keeps the serving-plan shape: broadcasts + partial TopK") {
    // the chunk-level RAG stack must inherit ivfPqRerankSearch's plan:
    // codebooks/probes/queries broadcast, both TopKAgg stages (ADC
    // shortlist m, exact top-k) keeping their map-side partials — and
    // the from-artifacts serve (q_rag_saved) must keep the same shape
    // reading files instead of deriving codebooks
    for (name <- Seq("q_rag_e2e", "q_rag_saved")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      assert(p.contains("BroadcastExchange"),
        s"$name: rag plan lost its broadcasts (codebooks / probe lists / query vectors)")
      assert(!p.contains("CartesianProduct"),
        s"$name: rag plan degenerated to a cartesian product")
      val partials = "ObjectHashAggregate".r.findAllIn(p).size
      assert(partials >= 4,
        s"$name: $partials ObjectHashAggregate nodes — a TopKAgg stage lost partial aggregation")
      CacheRegistry.release()
    }
  }

  test("doc-level retrieval plan: broadcast query side, partial TopK, no cartesian") {
    // q_doc_search is the coarse retrieval stage: |Q|·dims rows and the
    // norm table broadcast, candidates stream through one hash agg, and
    // the TopKAgg keeps its map-side partial
    val p = planText(SparkEntry.queries("q_doc_search")(spark, sf0001))
    assert(p.contains("BroadcastExchange"),
      "doc search lost its query-side broadcast")
    assert(!p.contains("CartesianProduct"),
      "doc search degenerated to a cartesian product")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "TopKAgg lost its partial aggregation stage")
    CacheRegistry.release()
  }

  test("saved-index serve plan keeps broadcasts + partial TopK, no cartesian") {
    // serving from artifacts must not lose the serving-plan economics:
    // ADC tables and probe lists broadcast, candidates stream, the
    // TopKAgg keeps its map-side partial — and nothing degenerates into
    // a cartesian product when the codebooks come from files
    // q_ivfpq_saved_rerank is the DEPLOYED serve plan (shortlist + exact
    // re-rank from files); the delete-served and filtered variants must
    // keep the same economics — in particular the tombstone anti-join
    // (broadcast nested-loop, delete-set-sized) and the pushed-down
    // metadata predicate must not degenerate into a cartesian product
    for (name <- Seq("q_ivfpq_saved", "q_ivfpq_saved_rerank",
                     "q_ivfpq_delete", "q_ivfpq_saved_filtered")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      assert(p.contains("BroadcastExchange"),
        s"$name: saved-index serve lost its broadcasts")
      assert(!p.contains("CartesianProduct"),
        s"$name: saved-index serve degenerated to a cartesian product")
      val partials = "ObjectHashAggregate".r.findAllIn(p).size
      assert(partials >= 2,
        s"$name: $partials ObjectHashAggregate nodes — TopKAgg lost partial aggregation")
      CacheRegistry.release()
    }
  }

  test("binary + matryoshka serves: broadcasts kept, no cartesian, both TopK stages partial") {
    // the two-stage cheap-shortlist serves must keep the serving-plan
    // economics: query codes / prefix vectors broadcast, candidates
    // stream, BOTH TopKAgg stages (shortlist m, exact top-k) keep their
    // map-side partials, nothing degenerates into a cartesian — and the
    // from-files serve (q_binary_saved) keeps the same shape reading the
    // code store instead of quantizing inline
    for (name <- Seq("q_hamming_search", "q_binary_saved",
                     "q_matryoshka_search")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      assert(p.contains("BroadcastExchange"),
        s"$name: serve lost its query-side broadcast")
      assert(!p.contains("CartesianProduct"),
        s"$name: serve degenerated to a cartesian product")
      val partials = "ObjectHashAggregate".r.findAllIn(p).size
      assert(partials >= 4,
        s"$name: $partials ObjectHashAggregate nodes — a TopKAgg stage lost partial aggregation")
      CacheRegistry.release()
    }
  }

  test("experiment read-outs: user-keyed hash aggs only — no window, no shuffle join") {
    // the A/B family must stay one corpus pass + scalar math: the
    // per-user stage is a hash agg on user_id (corpus-cardinality), the
    // census/statistic stages are broadcast-scalar — a Window or a
    // shuffle join here would serialize the experiment read-out
    for (name <- Seq("q_ab_metrics", "q_srm_check", "q_cuped")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      assert(!p.contains("Window"),
        s"$name: experiment plan grew a window")
      assert(!p.contains("SortMergeJoin"),
        s"$name: experiment plan grew a shuffle join")
      assert(!p.contains("CartesianProduct"),
        s"$name: experiment plan degenerated to a cartesian product")
      CacheRegistry.release()
    }
  }

  test("position attribution: windows lead with user_id or the purchase id only") {
    // sessionization windows shard on the user key; the credit-position
    // windows shard on the purchase event id (event-cardinality) — a
    // type- or session-led window would serialize hot sessions
    val p = planText(
      SparkEntry.queries("q_attribution_position")(spark, sf0001))
    val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
    assert(specs.nonEmpty, "expected window specs in the plan")
    assert(specs.forall(s => s.contains("user_id") || s.contains("p_eid")),
      s"found a window led by neither user_id nor p_eid: $specs")
    CacheRegistry.release()
  }

  test("experiment extras: ratio windows user-led, segments on _pid, Benford window-free") {
    // q_ab_ratio's only window is the sessionization lag — user-led
    // (corpus-cardinality); the census math after it is agg-only
    val pr = planText(SparkEntry.queries("q_ab_ratio")(spark, sf0001))
    val rSpecs = "windowspecdefinition\\([^,)]*".r.findAllIn(pr).toList
    assert(rSpecs.nonEmpty && rSpecs.forall(_.contains("user_id")),
      s"q_ab_ratio: window not user_id-led: $rSpecs")
    // q_ab_segments ranks on the withGlobalRank device — every window
    // _pid-led, never a single-partition global rank
    val ps = planText(SparkEntry.queries("q_ab_segments")(spark, sf0001))
    val sSpecs = "windowspecdefinition\\([^,)]*".r.findAllIn(ps).toList
    assert(sSpecs.nonEmpty && sSpecs.forall(_.contains("_pid")),
      s"q_ab_segments: found a non-_pid window: $sSpecs")
    // q_benford is one scan + hash aggs + scalar broadcasts
    val pb = planText(SparkEntry.queries("q_benford")(spark, sf0001))
    assert(!pb.contains("Window"), "q_benford grew a window")
    assert(!pb.contains("SortMergeJoin"), "q_benford grew a shuffle join")
    CacheRegistry.release()
  }

  test("ltv + ltv-adjacent census plans: windows keyed by the series/cohort column") {
    // q_ltv_cohort's windows run over the (cohort, age) CENSUS rows and
    // must partition on cohort_day; q_acf's lag windows partition on
    // event_type over the hourly census (the q_period_over_period
    // precedent: census rows, never facts)
    val pl = planText(SparkEntry.queries("q_ltv_cohort")(spark, sf0001))
    val lSpecs = "windowspecdefinition\\([^,)]*".r.findAllIn(pl).toList
    assert(lSpecs.nonEmpty && lSpecs.forall(_.contains("cohort_day")),
      s"q_ltv_cohort: window not cohort-led: $lSpecs")
    val pa = planText(SparkEntry.queries("q_acf")(spark, sf0001))
    val aSpecs = "windowspecdefinition\\([^,)]*".r.findAllIn(pa).toList
    assert(aSpecs.nonEmpty && aSpecs.forall(_.contains("event_type")),
      s"q_acf: window not event_type-led: $aSpecs")
    CacheRegistry.release()
  }

  test("windowed top-k per priority rides the grouped-prefix device (no 5-class window)") {
    // same lock for the full rank-function family: q_window_ranks derives
    // dense_rank/percent_rank/cume_dist/ntile from (rk, n) arithmetic, so
    // its plan too must contain only _pid-led window specs — the native
    // Window.partitionBy(o_orderpriority) funnel must never return
    for (name <- Seq("q_window_topk", "q_window_ranks", "q_quality_topfrac")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
      assert(specs.nonEmpty && specs.forall(_.contains("_pid")),
        s"$name: expected only _pid-led windows, got $specs")
      CacheRegistry.release()
    }
  }

  test("q_cluster_sample: per-cell bottom-k rides the grouped-prefix device " +
       "(no cell-keyed window), codebook broadcast, no cartesian") {
    // the cluster-balanced sample's per-cell rank must NEVER be a window
    // partitioned by the handful-of-cells `assigned` key (a cell's whole
    // corpus share would funnel through one task at 100 TB) — it rides
    // withGroupedPrefix, so every window spec in the plan is _pid-led;
    // the codebook argmin and the per-cell size census both broadcast
    val p = planText(SparkEntry.queries("q_cluster_sample")(spark, sf0001))
    val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
    assert(specs.nonEmpty && specs.forall(_.contains("_pid")),
      s"q_cluster_sample: expected only _pid-led windows, got $specs")
    assert(!p.contains("CartesianProduct"), "q_cluster_sample grew a cartesian")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "q_cluster_sample: expected broadcast joins for codebook/census sides")
    CacheRegistry.release()
  }

  test("q7 dual-role geography joins broadcast both sides, no cartesian product") {
    val p = planText(SparkEntry.queries("q7_volume_shipping")(spark, sf0001))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 2,
      s"$nBroadcast broadcast joins — the geography dims must broadcast in both roles")
    assert(!p.contains("CartesianProduct"), "q7 plan degenerated to a cartesian product")
  }

  test("q6 scan: date/discount/quantity bands pushed to the parquet reader, no join") {
    val p = planText(SparkEntry.queries("q6_forecast_revenue")(spark, sf0001))
    assert(!p.contains("Join"), "q6 must be a single filtered scan")
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_quantity,24"),
      "quantity band did not reach the parquet scan:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("landed time-partitioned layout prunes partitions on read") {
    // the point of the y/m/d/h layout at 100 TB: a time-sliced read must
    // list only the matching directories (PartitionFilters on the scan),
    // not scan the corpus
    val out = Scratch.dir("prune")
    graft.operators.Landing.landPartitionedJson(
      Tables.events(spark, sf0001), col("ts"), Seq("event_id"), out).count()
    val landed = spark.read.schema(
      graft.streaming.StreamOps.landedDataSchema).json(out)
      .filter(col("h") === 3)
    val p = planText(landed.select(col("event_id")))
    assert(p.contains("PartitionFilters") && p.contains("(h#") ,
      "hour predicate did not become a partition filter:\n" + p.take(1500))
    assert(landed.count() > 0)
  }

  test("curate pipeline plan has at most one global sort (the final ORDER BY)") {
    val p = planText(SparkEntry.queries("q_pipeline_curate")(spark, sf0001))
    val rangeExchanges = "rangepartitioning".r.findAllIn(p).size
    assert(rangeExchanges <= 1,
      s"$rangeExchanges range exchanges in the curate plan — a stage's internal orderBy leaked")
    CacheRegistry.release()
  }

  test("dsirWeights ranks with NO unpartitioned window (scale-safe global rank)") {
    val plan = planText(
      operators.TextAnalysis.dsirWeights(Tables.documents(spark, sf0001)))
    CacheRegistry.release()
    // the only window in the plan is the _pid-partitioned local rank —
    // the old single-partition Window.orderBy(log_ratio) must never return
    val specs = "windowspecdefinition\\(".r.findAllIn(plan).length
    assert(plan.contains("windowspecdefinition(_pid"),
      "expected the _pid-partitioned local-rank window in the plan")
    assert(specs === 1,
      s"expected exactly one window spec (the partitioned rank), got $specs")
  }

  test("pretrain composition has at most one global sort (the final ORDER BY)") {
    // curate → mixture → split → pack chains four tiers; every stage's
    // oracle-determinism orderBy must stay out of the composed plan, and
    // the order-statistics stages must not smuggle in a global Sort —
    // repartitionByRange exchanges (the grouped-prefix device) are fine,
    // global Sort nodes are not
    val p = planText(SparkEntry.queries("q_pipeline_pretrain")(spark, sf0001))
    CacheRegistry.release()
    val globalSorts = "Sort \\[[^\\]]*\\], true".r.findAllIn(p).size
    assert(globalSorts <= 1,
      s"$globalSorts global sorts in the pretrain plan — a stage's orderBy leaked")
  }

  test("mixture + packing plans: every window is _pid-partitioned (no domain-only window)") {
    // regression lock for the round-8 grouped-prefix rewrite: sources/
    // languages are low-cardinality, so a Window.partitionBy(source|lang)
    // would serialize each domain — potentially most of the corpus —
    // through one task. Every window in these plans must be the grouped
    // device's (_pid, group)-partitioned local pass (same contract as the
    // dsirWeights lock above).
    for (name <- Seq("q_mixture", "q_mixture_temp", "q_seq_packing")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
      assert(specs.nonEmpty, s"$name: expected window specs in the plan")
      assert(specs.forall(_.contains("_pid")),
        s"$name: found a window whose leading partition key is not _pid: $specs")
      CacheRegistry.release()
    }
  }

  test("diversified retrieval: broadcast pool, no cartesian, query-led windows only") {
    // the |Q|·m pool must broadcast into the documents scan (never
    // shuffle the corpus for a lang attribute), and every window in the
    // diversity re-rank must lead with query_id — list-sized state per
    // task, like the other serve plans
    val p = planText(SparkEntry.queries("q_diverse_topk")(spark, sf0001))
    assert(p.contains("BroadcastExchange"), "pool-side broadcast lost")
    assert(!p.contains("CartesianProduct"), "diversity degenerated to a cartesian")
    val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
    assert(specs.nonEmpty && specs.forall(_.contains("query_id")),
      s"window not query_id-led: $specs")
    CacheRegistry.release()
  }

  test("mining/re-rank tier: broadcasts kept, no cartesian, only query-led windows") {
    // q_hard_negatives / q_mmr_topk / q_ql_dirichlet compose the bounded
    // retrieval plans: the expensive tiers keep their broadcast + partial
    // TopK economics, the list-sized tails add no cartesian, and any
    // window partitions on query_id (≤m rows per task)
    // q_mmr_topk's returned frame is localCheckpoint-truncated (each
    // greedy step materializes, stopping the 2^k plan-tree blowup a lazy
    // selected-set union would build), so its visible plan cannot show
    // the chain's broadcasts — those are locked on q_doc_search, whose
    // plan IS the mmr pool chain
    for (name <- Seq("q_hard_negatives", "q_mmr_topk", "q_ql_dirichlet",
                     "q_ce_rerank", "q_snippets")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      if (name != "q_mmr_topk")
        assert(p.contains("BroadcastExchange"), s"$name: broadcast lost")
      assert(!p.contains("CartesianProduct"),
        s"$name: degenerated to a cartesian product")
      val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
      assert(specs.forall(_.contains("query_id")),
        s"$name: window not query_id-led: $specs")
      CacheRegistry.release()
    }
  }

  test("round-10 wave: no cartesian; every window rides a scalable partition key") {
    // q_maxsim_rerank/q_phrase_topk: shortlist-bounded re-rank tiers —
    // broadcast term/phrase sides, query-led windows only.
    // q_pagerank_terms/q_curriculum: global ranks ride the _pid grouped
    // device (the plan is checkpoint-truncated for pagerank; the final
    // rank stage is what remains visible). q_session_paths: the lead()
    // window shards by user_id, the top-k by _pid. q_span_corrupt:
    // doc-led gaps-and-islands. None may degenerate to a cartesian.
    val leads = Map(
      "q_maxsim_rerank" -> Seq("query_id"),
      "q_phrase_topk" -> Seq("query_id"),
      "q_pagerank_terms" -> Seq("_pid"),
      "q_session_paths" -> Seq("user_id", "_pid"),
      "q_curriculum" -> Seq("_pid"),
      "q_span_corrupt" -> Seq("doc_id"))
    for ((name, keys) <- leads) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      assert(!p.contains("CartesianProduct"),
        s"$name: degenerated to a cartesian product")
      val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
      assert(specs.forall(s => keys.exists(s.contains)),
        s"$name: window outside $keys: $specs")
      CacheRegistry.release()
    }
    // broadcast-critical new plans must keep their broadcasts: the
    // MaxSim term matrices, the phrase word-list, the MAD per-type stats
    for (name <- Seq("q_maxsim_rerank", "q_phrase_topk", "q_anomaly_mad")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      assert(p.contains("BroadcastExchange"), s"$name: broadcast lost")
      CacheRegistry.release()
    }
  }

  test("scd2 lookup: interval containment rides the user_id equi join, no nested loop") {
    // the point-in-time join must hash/merge on the dimension key with
    // the validity range as a post-join predicate — a nested-loop or
    // cartesian here would scan |facts|·|versions| at warehouse scale
    val p = planText(SparkEntry.queries("q_scd2_lookup")(spark, sf0001))
    assert(!p.contains("CartesianProduct"), "lookup degenerated to a cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "lookup planned as a nested loop — the user_id equi key was lost")
    CacheRegistry.release()
  }

  test("resample/fill/rolling windows partition on the series key only") {
    // the fill and every trailing feature window must shard by user_id
    // (cardinality = |series|); any other leading key would serialize
    // the grid through few tasks
    for (name <- Seq("q_resample_ffill", "q_resample_interp",
        "q_rolling_features")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
      assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
        s"$name: window not user_id-led: $specs")
      CacheRegistry.release()
    }
  }

  test("triangles/ewma/pii wave keeps scalable shapes") {
    // q_triangles: degree-ordered closure is three hash joins and the
    // top-k rides the _pid device — a cartesian or a term-led window
    // would explode on hub terms
    val pt = planText(SparkEntry.queries("q_triangles")(spark, sf0001))
    assert(!pt.contains("CartesianProduct"),
      "triangle closure degenerated to a cartesian")
    val st = "windowspecdefinition\\([^,)]*".r.findAllIn(pt).toList
    assert(st.nonEmpty && st.forall(_.contains("_pid")),
      s"q_triangles: window not _pid-led: $st")
    CacheRegistry.release()
    // q_ewma: every lag term and the fill ride user_id windows (the
    // series key — any other lead would serialize the grid)
    val pe = planText(SparkEntry.queries("q_ewma")(spark, sf0001))
    val se = "windowspecdefinition\\([^,)]*".r.findAllIn(pe).toList
    assert(se.nonEmpty && se.forall(_.contains("user_id")),
      s"q_ewma: window not user_id-led: $se")
    CacheRegistry.release()
    // q_pii_redact: one pruned scan into a hash agg — no join, no
    // window; the scrub is embarrassingly parallel by construction
    val pp = planText(SparkEntry.queries("q_pii_redact")(spark, sf0001))
    assert(!pp.contains("Join"), "pii census grew a join")
    assert(!pp.contains("windowspecdefinition"), "pii census grew a window")
    CacheRegistry.release()
  }

  test("governance/drift wave keeps scalable shapes") {
    // q_cusum + q_weighted_sample + q_forecast_naive: per-type prefixes
    // and per-stratum ranks ride the grouped-prefix device — the
    // 5-class event_type / handful-of-langs keys must never lead a
    // window
    for (name <- Seq("q_cusum", "q_weighted_sample", "q_forecast_naive")) {
      val p = planText(SparkEntry.queries(name)(spark, sf0001))
      val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
      assert(specs.nonEmpty && specs.forall(_.contains("_pid")),
        s"$name: window not _pid-led: $specs")
      CacheRegistry.release()
    }
    // q_kanon: one QI hash agg + a 4-row band census — no window; the
    // only join is the 1-row total broadcast
    val pk = planText(SparkEntry.queries("q_kanon")(spark, sf0001))
    assert(!pk.contains("windowspecdefinition"), "kanon census grew a window")
    assert(pk.contains("BroadcastNestedLoopJoin") || pk.contains("BroadcastExchange"),
      "kanon total must arrive by broadcast")
    CacheRegistry.release()
    // q_dist_shift: no window anywhere — the union vocabulary is one
    // co-partitioned full-outer hash join, totals broadcast
    val pd = planText(SparkEntry.queries("q_dist_shift")(spark, sf0001))
    assert(!pd.contains("windowspecdefinition"), "dist_shift grew a window")
    assert(pd.contains("SortMergeJoin") || pd.contains("ShuffledHashJoin"),
      "dist_shift union vocab must be a shuffled equi join")
    assert(!pd.contains("CartesianProduct"), "dist_shift degenerated to a cartesian")
    CacheRegistry.release()
    // q_token_entropy: the per-doc total rides a doc_id-led window
    // (corpus-cardinality key — parallel by construction)
    val pe = planText(SparkEntry.queries("q_token_entropy")(spark, sf0001))
    val se = "windowspecdefinition\\([^,)]*".r.findAllIn(pe).toList
    assert(se.nonEmpty && se.forall(_.contains("doc_id")),
      s"q_token_entropy: window not doc_id-led: $se")
    CacheRegistry.release()
    // q_profile: ONE scan into one wide aggregate — the whole profile
    // must come from a single pass (no join, no window, no re-scan)
    val pf = planText(SparkEntry.queries("q_profile")(spark, sf0001))
    assert(!pf.contains("Join"), "profile census grew a join")
    assert(!pf.contains("windowspecdefinition"), "profile census grew a window")
    // formatted plans list each node twice (tree + detail) — count the
    // numbered detail headers, one per physical scan node
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(pf).size
    assert(scans == 1, s"profile must scan once, found $scans scans")
    CacheRegistry.release()
    // q_chi2: contingency census — no window; marginal frames are tiny
    // and the zero-cell completion must not become a cartesian on rows
    val pc = planText(SparkEntry.queries("q_chi2")(spark, sf0001))
    assert(!pc.contains("windowspecdefinition"), "chi2 census grew a window")
    CacheRegistry.release()
  }

  test("q1 aggregation runs partial (map-side) before the shuffle") {
    val p = planText(SparkEntry.queries("q1_pricing_summary")(spark, sf0001))
    assert(p.contains("partial_sum") || p.contains("Functions: [partial_"),
      "no partial aggregation phase in plan")
  }

  test("approx_percentile brackets the exact percentile within rank tolerance") {
    val orders = Tables.orders(spark, sf0001)
    val approx = operators.Warehouse.approxPricePercentiles(orders).collect()
    val byStatus = orders.select("o_orderstatus", "o_totalprice").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(approx.nonEmpty)
    for {
      r <- approx
      (q, v) <- Seq(0.5 -> r.getDouble(1), 0.9 -> r.getDouble(2),
                    0.99 -> r.getDouble(3))
    } {
      val xs = byStatus(r.getString(0))
      // the estimate's empirical rank interval must contain the target
      // quantile within the sketch's rank-error budget (1/accuracy, plus
      // slack for the tiny-group discretization)
      val lo = xs.count(_ < v).toDouble / xs.length
      val hi = xs.count(_ <= v).toDouble / xs.length
      val tol = 0.02
      assert(lo - tol <= q && q <= hi + tol,
        f"status=${r.getString(0)} q=$q%.2f est=$v rank interval [$lo%.3f, $hi%.3f]")
    }
  }

  test("runtime bloom filter injects into a selective fact-dim join") {
    // §4 performance feature: with a selective dimension filter, Catalyst
    // injects a bloom filter built on the dim side into the fact scan —
    // at 100 TB this prunes most fact rows BEFORE the join shuffle.
    // Thresholds are lowered to make injection observable at test scale.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      // force a shuffle join: runtime filters only pay off (and inject)
      // when the join is not a broadcast
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(spark, sf0001)
      val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val p = planText(joined)
      assert(p.toLowerCase.contains("bloomfilter"),
        "no runtime bloom filter in plan:\n" + p.take(2000))
      assert(joined.collect().map(_.getLong(1)).sum > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("mv-join base stores are bucketed on the join key: delta joins " +
       "read history with NO Exchange above the store scans") {
    val sp = spark
    import sp.implicits._
    val (oT, lT) = ("graft_mvj_test_o", "graft_mvj_test_l")
    graft.streaming.StreamOps.createMvBaseTables(sp, oT, lT)
    val oRows = (1L to 500L).map(i =>
      (i, 0, s"2024-01-0${i % 9 + 1}", BigDecimal(i).setScale(2)))
      .toDF("okey", "lnum", "odate", "price")
    val lRows = (1L to 500L).map(i =>
      (i % 200, i.toInt, null.asInstanceOf[String],
        BigDecimal(i * 2).setScale(2)))
      .toDF("okey", "lnum", "odate", "price")
    graft.streaming.StreamOps.appendMvBase(oRows, oT, 0L)
    graft.streaming.StreamOps.appendMvBase(lRows, lT, 0L)
    val conf = sp.conf
    val savedBt = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // tiny deltas would broadcast and sidestep the layout; at store
      // scale the delta exceeds the threshold and SMJ is what the
      // bucketing must keep exchange-free on the STORE side
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val oPrev = sp.table(oT).filter(col("batch") < 1L)
      val lPrev = sp.table(lT).filter(col("batch") < 1L)
      val oNew = oRows.limit(50)
      val lNew = lRows.limit(50)
      val dv = graft.streaming.StreamOps.mvDeltaJoin(oPrev, lPrev, oNew, lNew)
      val p = planText(dv)
      assert("Bucketed: true".r.findAllIn(p).length === 2,
        "both base-store scans must carry the bucket layout:\n" +
          p.take(1500))
      // 3 delta joins: ΔL⋈O_prev (1 exchange, delta side), ΔL⋈ΔO (2),
      // L_prev⋈ΔO (1) — the two STORE scans contribute none. A plain
      // parquet store would add one exchange per store scan (6 total).
      // Count detail headers: formatted explain lists each node twice.
      val exch = "\\(\\d+\\) Exchange".r.findAllIn(p).length
      assert(exch <= 4,
        s"store-side exchanges crept back in ($exch > 4):\n$p")
      // and the distributed law equals the textbook ΔL⋈(O∪ΔO) ∪ L⋈ΔO
      val oAll = oPrev.select("okey", "odate")
        .unionByName(oNew.select("okey", "odate"))
      val expected =
        lNew.select("okey", "lnum", "price").join(oAll, Seq("okey")).count() +
        lPrev.select("okey", "lnum", "price")
          .join(oNew.select("okey", "odate"), Seq("okey")).count()
      assert(dv.count() === expected)
    } finally savedBt match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    Seq(oT, lT).foreach(t => sp.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("AQE splits a planted-skew sort-merge join (skew=true in the adaptive plan)") {
    // the 100 TB reality is skewed fact-fact joins: one hot key's shuffle
    // partition dwarfs the rest and serializes the stage. AQE's skew-join
    // rule splits the oversized partition into parallel sub-reads —
    // thresholds lowered here to make the split observable at test scale.
    // The aggregation after the join is GLOBAL on purpose: a groupBy on
    // the join key would demand hash-clustered output, which the skew
    // rule refuses to break (it would need an extra shuffle).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val n = 200000L
      // 90% of the fact rows share ONE hot key
      val fact = spark.range(n).select(
        when(pmod(col("id"), lit(10L)) < 9, lit(7L))
          .otherwise(pmod(col("id"), lit(1000L))).as("k"),
        col("id").as("v"))
      val dim = spark.range(n / 10).select(
        pmod(col("id"), lit(1000L)).as("k"), col("id").as("w"))
      val joined = fact.join(dim, "k").agg(sum(col("v") + col("w")).as("s"))
      assert(joined.collect().head.getLong(0) > 0)
      val executed = joined.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true"),
        "AQE did not mark the skewed join split:\n" + executed.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: no shuffle on the join key") {
    val sp = spark
    import sp.implicits._
    val n = 1000
    val left = (0 until n).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
    val right = (0 until n).map(i => (i.toLong % 100, i.toLong * 2)).toDF("k", "w")
    sp.sql("DROP TABLE IF EXISTS graft_bucket_l")
    sp.sql("DROP TABLE IF EXISTS graft_bucket_r")
    // the in-memory catalog forgets tables across JVMs but their dirs stay
    Seq("graft_bucket_l", "graft_bucket_r").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"${SparkSpec.warehouse}/$t"))
    }
    left.write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bucket_l")
    right.write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bucket_r")

    def exchanges(df: DataFrame): Int =
      "Exchange".r.findAllIn(planText(df)).length

    // merge hint: with broadcast, tiny test tables would sidestep the
    // bucketing entirely — at warehouse scale both sides exceed the
    // broadcast threshold and SMJ is what the bucketing must co-locate
    val bucketed = sp.table("graft_bucket_l").hint("merge")
      .join(sp.table("graft_bucket_r"), "k")
      .groupBy("k").agg(sum($"v" + $"w").as("s"))
    val plain = left.hint("merge").join(right, "k")
      .groupBy("k").agg(sum($"v" + $"w").as("s"))
    val nb = exchanges(bucketed)
    val np = exchanges(plain)
    info(s"exchanges: bucketed=$nb plain=$np")
    assert(nb < np, s"bucketing did not remove a shuffle (bucketed=$nb plain=$np)")
    // the join itself must be shuffle-free: the only allowed exchange is
    // none (bucketed grouping reuses the join partitioning)
    assert(nb === 0, s"expected fully co-located plan, saw $nb exchanges")
    // same results either way
    assert(bucketed.orderBy("k").collect().toSeq ===
      plain.orderBy("k").collect().toSeq)
  }

  test("q_bucketed_join product path: the layout join subtree is shuffle-free") {
    val sp = spark
    // materialize the layout exactly as the query does, then lock the
    // join-only frame: SortMergeJoin over bucketed scans, ZERO Exchange —
    // the write-once shuffle amortized across every join on the key
    operators.Warehouse.writeBucketedLayout(sp,
      Tables.orders(sp, sf0001), Tables.lineitem(sp, sf0001))
    val joinFrame = operators.Warehouse.bucketedJoinFrame(sp)
    val p = planText(joinFrame)
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Exchange"),
      "bucketed product join still shuffles:\n" + p.take(2000))
    // bucket pruning: a point predicate on the bucket key reads 1 of 8
    // buckets — the file-skipping half of the layout win. autoBucketedScan
    // turns bucketing off when no join/agg needs the partitioning, which
    // also forfeits pruning — pin it on for the probe
    val saved = sp.conf.getOption("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try {
      sp.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val pruned = planText(
        sp.table("graft_bkt_orders").filter(col("o_orderkey") === 42L))
      assert(pruned.contains("SelectedBucketsCount: 1 out of 8"),
        "no bucket pruning on a point lookup:\n" + pruned.take(2000))
    } finally saved match {
      case Some(v) => sp.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", v)
      case None => sp.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    }
  }

  test("nested schema pruning: selecting one struct field narrows the parquet ReadSchema") {
    val sp = spark
    val root = Scratch.dir("nested")
    try {
      // events in the nested shape the landing JSON carries
      Tables.events(sp, sf0001)
        .select(col("event_id"),
          struct(col("user_id"), col("event_type"), col("value")).as("info"))
        .write.parquet(root)
      val p = planText(sp.read.parquet(root).select(col("info.event_type")))
      // the scan must read ONLY the selected leaf — at 100 TB a wide
      // metadata struct read whole for one field is the scan budget
      assert(p.contains("info:struct<event_type:string>"),
        "nested ReadSchema not pruned to the selected leaf:\n" + p.take(2000))
      assert(!p.contains("user_id"), "pruned scan still reads info.user_id")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root))
  }

  test("ANALYZE TABLE column statistics drive CBO selectivity estimates") {
    val sp = spark
    val saved = sp.conf.getOption("spark.sql.cbo.enabled")
    try {
      sp.conf.set("spark.sql.cbo.enabled", "true")
      sp.sql("DROP TABLE IF EXISTS graft_stats_orders")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"${SparkSpec.warehouse}/graft_stats_orders"))
      Tables.orders(sp, sf0001).write.saveAsTable("graft_stats_orders")
      sp.sql("ANALYZE TABLE graft_stats_orders COMPUTE STATISTICS " +
        "FOR COLUMNS o_orderpriority")
      val total = sp.table("graft_stats_orders").count()
      val actual = sp.table("graft_stats_orders")
        .filter(col("o_orderpriority") === "1-URGENT").count()
      val est = sp.table("graft_stats_orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .queryExecution.optimizedPlan.stats.rowCount
      // with column stats the optimizer knows ~1/5 of orders are URGENT —
      // the estimate that makes join-side and broadcast decisions right at
      // scale; without stats it can only assume no filtering
      assert(est.isDefined, "no CBO row-count estimate after ANALYZE")
      val e = est.get.toLong
      assert(e < total && e >= actual / 3 && e <= actual * 3,
        s"estimate $e implausible (actual $actual of $total)")
    } finally {
      saved match {
        case Some(v) => sp.conf.set("spark.sql.cbo.enabled", v)
        case None => sp.conf.unset("spark.sql.cbo.enabled")
      }
      sp.sql("DROP TABLE IF EXISTS graft_stats_orders")
    }
  }

  test("dynamic partition pruning: a filtered dim prunes the partitioned fact scan at runtime") {
    val sp = spark
    val root = Scratch.dir("dpp")
    try {
      // the landing layout: fact partitioned by day on disk
      Tables.events(sp, sf0001)
        .withColumn("day", dayofmonth(col("ts")))
        .write.partitionBy("day").mode("overwrite").parquet(root)
      val fact = sp.read.parquet(root)
      // the selective predicate lives on a DIM attribute (tag), not on the
      // partition column — static pruning cannot see it; only the runtime
      // subquery built from the broadcast dim can prune the fact scan
      val dim = sp.range(1, 32)
        .select(col("id").cast("int").as("day"),
          when(col("id") % 7 === 0, "keep").otherwise("drop").as("tag"))
      val joined = fact
        .join(broadcast(dim.filter(col("tag") === "keep")), "day")
        .groupBy("day").agg(count(lit(1)).as("n"))
      val p = planText(joined)
      assert(p.toLowerCase.contains("dynamicpruning"),
        "no dynamic partition pruning in plan:\n" + p.take(3000))
      // and it actually runs: only the kept days survive
      val days = joined.collect().map(_.getInt(0)).toSet
      assert(days.nonEmpty && days.forall(_ % 7 == 0))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root))
  }
}
