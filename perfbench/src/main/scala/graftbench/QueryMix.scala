package graftbench

import org.apache.spark.sql.SparkSession

import graft.{CacheRegistry, SparkEntry}

/** The operator suite: named `SparkEntry.queries` on perfbench/data/sf0.01,
  * each written to parquet (checked afterwards against pinned result
  * hashes), with Bench's per-query release between them. Each group runs
  * once, in a seed-permuted order, inside a traced run: a warm, repeated
  * timing of them takes longer than a run of this benchmark may.
  */
object QueryMix {
  val BatchGroup = Seq("q5_local_supplier", "q_entity_resolve", "q_ivfpq_saved",
    "q_cluster_best", "q_mmr_topk")
  val StreamGroup = Seq("q_stream_entity", "q_stream_profile", "q_stream_ssjoin_full",
    "q_stream_session")
  val All: Seq[String] = BatchGroup ++ StreamGroup

  /** Bench's release between queries: cached plans, registry-tracked
    * checkpoints and the streaming memory-sink views.
    */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    CacheRegistry.releaseCheckpoints()
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  final case class Exec(query: String, seconds: Double, dir: String, ok: Boolean,
                        storageAfter: Long)

  /** One query, written to parquet under `<work>/<label>/<q>`; its jobs
    * carry the job group and counter tag `SparkEntry.<q>`.
    */
  private def runOne(spark: SparkSession, o: Opts, q: String, label: String): Exec = {
    val dir = o.work.resolve(s"$label/$q").toString
    val sc = spark.sparkContext
    val tag = s"SparkEntry.$q"
    val t0 = System.nanoTime()
    sc.setJobGroup(tag, tag)
    val ok =
      try {
        Counters.withTag(sc, tag)(SparkEntry.queries(q)(spark, o.data.toString).write.parquet(dir))
        true
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed: $e"); false
      } finally sc.clearJobGroup()
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $label $q%-22s $s%.3f s")
    release(spark)
    val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Exec(q, s, dir, ok, storage)
  }

  /** Runs `group` once each, in an order permuted by the seed, under the
    * listeners and spans of a traced run. Returns the executions and the
    * per-query layer metrics, plus the group's summed wall time as
    * `SparkEntry.<groupName>`.
    */
  def traced(spark: SparkSession, o: Opts, group: Seq[String], groupName: String,
             t: Tracer): (Seq[Exec], Map[String, Double]) = {
    val l = new Listeners(spark)
    l.start()
    val execs = new scala.util.Random(o.seed).shuffle(group).map { q =>
      val tag = s"SparkEntry.$q"
      l.current = tag
      val e = t.span(tag, t.newId(), 0)(_ => runOne(spark, o, q, "mix"))
      l.drain()
      e
    }
    l.stop()
    val layers = execs.flatMap { e =>
      val tag = s"SparkEntry.${e.query}"
      val a = l.counters.sum(_ == tag)
      val progress = l.progressOf(tag)
      def dur(k: String) = progress.map(_.durationMs.getOrDefault(k, 0L).toDouble).sum
      Map(s"$tag.wall_s" -> e.seconds,
        s"$tag.jobs" -> a.jobs.toDouble,
        s"$tag.tasks" -> a.tasks.toDouble,
        s"$tag.shuffle_bytes" -> (a.shuffleRead + a.shuffleWrite).toDouble,
        s"$tag.executor_run_ms" -> a.runMs.toDouble,
        s"$tag.planning_ms" -> l.planningMs(tag),
        s"$tag.storage_after_bytes" -> e.storageAfter.toDouble) ++
        (if (e.query.startsWith("q_stream_"))
          Map(s"$tag.non_addbatch_share" -> (1 - dur("addBatch") / dur("triggerExecution")))
        else Map.empty)
    }.toMap + (s"SparkEntry.$groupName" -> execs.map(_.seconds).sum)
    (execs, layers)
  }

  /** Every query once, plus the DuckDB oracle SQL of each, for
    * perfbench/pin_hashes.py.
    */
  def dump(spark: SparkSession, o: Opts): Result = {
    val execs = All.map(q => runOne(spark, o, q, "dump"))
    java.nio.file.Files.writeString(o.work.resolve("oracle_sql.json"),
      Json(All.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    Result(execs.forall(_.ok), execs.size, execs.count(!_.ok), Map.empty, Map.empty,
      outputs(execs))
  }

  def outputs(execs: Seq[Exec]): Seq[(String, String)] =
    execs.filter(_.ok).map(e => e.query -> e.dir)
}
