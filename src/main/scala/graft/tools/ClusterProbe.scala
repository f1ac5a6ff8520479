package graft.tools

import graft.{Ledger, Run}

/** Dev tool: the first MULTI-EXECUTOR measurement in this build —
  * `local-cluster[n, cores, mem]` launches REAL separate executor JVMs
  * (via SPARK_HOME) with real serialized Exchange traffic between them,
  * unlike `local[*]` where an Exchange is an in-process memcpy. This is
  * the deployment seam the bucketed MV-store default keys off
  * (`StreamOps.defaultBucketedStores`): the probe measures the
  * bucketed-vs-plain store layouts, a bucketed warehouse join, and two
  * shuffle-heavy headline queries under a master where shuffles
  * actually serialize — evidence that the cluster-default layout is the
  * right call where network exists, not just an argument about it.
  *
  * `runMain graft.tools.ClusterProbe [master] [sfDir] [depth]` — master
  * defaults to local-cluster[4,8,6144]; requires SPARK_HOME (the
  * standalone-ish workers are forked from the distribution); the session
  * is [[graft.Run.session]], so set SPARK_GRAFT_CPUS to the cluster's
  * cores (32 for the default master) for a shuffle width that uses them.
  * Shuffle bytes come from the work ledger ([[graft.Ledger]]).
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val master = if (args.length > 0) args(0) else "local-cluster[4,8,6144]"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Run.session(master)
    // GRAFT_PROBE_NO_BROADCAST=1 models the regime a 100 TB deployment
    // actually hits: a micro-batch delta LARGER than any broadcast
    // budget. At every single-box-stageable scale the delta fits the
    // (AQE) broadcast threshold, the history side of the plain-layout
    // delta join never shuffles, and measured exchange bytes are ~0 for
    // BOTH layouts (round-15 finding) — the byte-priced layout model
    // only separates the two once broadcast is off the table.
    if (sys.env.get("GRAFT_PROBE_NO_BROADCAST").contains("1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      println("broadcast joins DISABLED (delta-exceeds-budget regime)")
    }
    println(s"master=$master executors coming up...")
    // materialize a trivial distributed job so executor registration
    // cost lands outside the measurements
    spark.range(1 << 20).selectExpr("sum(id)").collect()

    // SHUFFLE-BYTE accounting (round 15): the layout cost model is
    // `history_bytes × price-per-byte` arithmetic, so the probe records
    // the bytes, not just the wall time
    val ledger = Ledger.attach(spark)
    def time(name: String)(f: => Long): Unit = {
      val (r, dt) = ledger(name) {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val w = ledger.work(name)
      println(f"CLUSTER $name: $dt%.1f s ($r rows) " +
        f"shuffle_write=${w.shuffleWriteBytes / 1048576.0}%.1f MiB " +
        f"shuffle_read=${w.shuffleReadBytes / 1048576.0}%.1f MiB")
      Run.release(spark)
    }

    // shuffle-heavy headline queries: the plans that pay real
    // serialization under this master
    time("q1_pricing_summary")(
      graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count())
    time("q18_large_orders")(
      graft.SparkEntry.queries("q18_large_orders")(spark, sfDir).count())
    time("q_bucketed_join")(
      graft.SparkEntry.queries("q_bucketed_join")(spark, sfDir).count())

    // the layout decision this probe exists for: the SAME drain, both
    // store layouts, under a master where the history re-shuffle of the
    // plain layout crosses process boundaries. Depth matters: at 3
    // batches there is barely any history and the bucketed write
    // overhead dominates; the cluster story is the accumulated-history
    // regime (default depth 8).
    val depth = if (args.length > 2) args(2).toInt else 8
    val o = graft.Tables.orders(spark, sfDir)
    val l = graft.Tables.lineitem(spark, sfDir)
    time(s"mv_join_bucketed_d$depth")(
      graft.streaming.StreamOps.streamMvJoinFrames(spark, o, l, depth,
        bucketedStores = Some(true)).count())
    time(s"mv_join_plain_d$depth")(
      graft.streaming.StreamOps.streamMvJoinFrames(spark, o, l, depth,
        bucketedStores = Some(false)).count())
    // and the default itself must resolve to bucketed on this master
    println(s"defaultBucketedStores under $master = " +
      graft.streaming.StreamOps.defaultBucketedStores(spark))
    spark.stop()
  }
}
