package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** perfbench/ compiles against the engine from its own build. Each
  * engine symbol it uses is referenced here with the type perfbench
  * relies on, so a signature change fails this suite's compile instead
  * of a benchmark run. Runs no Spark job.
  */
class PerfbenchApiSpec extends AnyFunSuite {

  test("the engine symbols perfbench uses keep their signatures, and its " +
       "query mix names registered queries with oracle SQL") {
    // graftbench/Land.scala: shards → dedup → landBatch, read back with
    // landedDataSchema (also graftbench/Harness.scala)
    val shards: (SparkSession, String, Int) => DataFrame =
      (spark, dir, n) => StreamOps.shardsEventStream(spark, dir, batchSize = Some(n))
    val dedup: DataFrame => DataFrame = StreamOps.dedupEventsFrame
    val land: (DataFrame, String, Long) => Unit =
      (batch, outDir, id) => StreamOps.landBatch(batch, outDir, id)
    val landed: StructType = StreamOps.landedDataSchema
    // graftbench/QueryMix.scala: the per-query release and the mix
    val release: () => Unit = () => CacheRegistry.releaseCheckpoints()
    val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
    val oracle: Map[String, String] = SparkEntry.oracleSql
    assert(Seq(shards, dedup, land, release).forall(_ != null))
    assert(landed.fieldNames.nonEmpty)
    // QueryMix.All
    val mix = Seq("q5_local_supplier", "q_entity_resolve", "q_ivfpq_saved",
      "q_cluster_best", "q_mmr_topk", "q_stream_entity", "q_stream_profile",
      "q_stream_ssjoin_full", "q_stream_session")
    assert(mix.filterNot(queries.contains).isEmpty)
    assert(mix.filterNot(oracle.contains).isEmpty)
  }
}
