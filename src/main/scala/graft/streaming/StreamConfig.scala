package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader

/** Reference-compatible configuration surface: the env variables a user of
  * the reference deploys with (consumer.py:254-264) mapped onto this
  * engine, so an existing deployment migrates without renaming its knobs.
  *
  * | reference env | reference meaning | here |
  * |---|---|---|
  * | BUCKET_NAME   | S3 landing bucket (consumer.py:254)   | landing root dir/URI |
  * | PREFIX        | S3 key prefix 'js/' (consumer.py:257) | subdir under the root |
  * | BATCH_SIZE    | GetRecords limit 1000 (consumer.py:255) | per-shard records per trigger |
  * | SHARD_NUMBER  | which shard this worker owns (consumer.py:260) | shard_id filter |
  *
  * The DynamoDB lease table name needs no analog — checkpointing is the
  * engine's checkpointLocation. SHARD_NUMBER exists for parity only: one
  * Spark query consumes ALL shards in parallel (shards → source
  * partitions), which is the upgrade the reference's one-process-per-shard
  * model gets for free here.
  */
case class StreamConfig(
    landingRoot: String,
    prefix: String = "js",
    batchSize: Int = 1000,
    shardNumber: Option[Int] = None,
    nShards: Int = 8) {
  require(batchSize > 0, s"BATCH_SIZE=$batchSize — must be positive")
  require(nShards > 0, s"nShards=$nShards — must be positive")
  shardNumber.foreach(s => require(s >= 0 && s < nShards,
    s"SHARD_NUMBER=$s outside [0, $nShards) — the stream has $nShards shards"))
  /** Parity-mode workers each own a shard-scoped output and checkpoint —
    * two workers sharing one bucket must not share either (a shared
    * checkpoint corrupts the offset log; a shared batch=N dir lets one
    * worker's overwrite delete the other's landed data).
    */
  private def shardSuffix: String = shardNumber.map(s => s"/shard=$s").getOrElse("")
  def outDir: String = s"$landingRoot/$prefix$shardSuffix"
  def checkpointDir: String = s"$landingRoot/_checkpoint$shardSuffix"
}

object StreamConfig {

  /** Read the reference's env surface (same names, same defaults). */
  def fromEnv(env: Map[String, String],
              fallbackRoot: String = s"${sys.props("java.io.tmpdir")}/graft_landing"): StreamConfig =
    StreamConfig(
      landingRoot = env.getOrElse("BUCKET_NAME", fallbackRoot),
      prefix = env.getOrElse("PREFIX", "js"),
      batchSize = env.getOrElse("BATCH_SIZE", "1000").toInt,
      shardNumber = env.get("SHARD_NUMBER").map(_.toInt))

  /** Kinesis connector wiring (S1 proper) behind the same seam the
    * offline file source stands in for: StreamConfig → the reader options
    * a Structured Streaming Kinesis connector consumes.
    *
    * TARGETED CONNECTOR: the AWS Labs Structured Streaming connector,
    * artifact `software.amazon.kinesis:spark-streaming-sql-kinesis-connector_2.13`
    * version 1.x (github.com/awslabs/spark-sql-kinesis-connector, the
    * maintained successor of Qubole's spark-sql-kinesis), whose options
    * are `kinesis.`-prefixed. EGRESS-GATED: this sandbox has no network,
    * so the mapping is compiled and unit-tested as option plumbing only
    * (StreamConfigSpec) and never `.load()`ed here — the same isolation
    * seam the reference's own test draws (test/consumer_test.py mocks the
    * boto3 client). Key spellings therefore could not be validated
    * against a live load; at deploy time check them against that
    * connector README — this one function is the only seam to adjust.
    * The mapping: the reference's replay-from-stream-head
    * (consumer.py:92-130, TRIM_HORIZON iterator) →
    * `kinesis.startingPosition`; BATCH_SIZE's GetRecords limit
    * (consumer.py:255) → the per-shard fetch cap.
    */
  def kinesisSourceOptions(cfg: StreamConfig, streamName: String,
                           region: String): Map[String, String] = Map(
    "kinesis.streamName" -> streamName,
    "kinesis.region" -> region,
    "kinesis.consumerType" -> "GetRecords",
    "kinesis.startingPosition" -> "TRIM_HORIZON",
    "kinesis.maxFetchRecordsPerShard" -> cfg.batchSize.toString)

  /** A ready-to-`.load()` reader for the Kinesis source. Building the
    * reader performs no I/O (options are validated at load time), so the
    * wiring itself is verifiable offline; swapping it for the
    * [[graft.sources.GraftShards]] source is the only difference
    * between the offline pipelines and a live deployment.
    */
  def kinesisReader(spark: SparkSession, cfg: StreamConfig,
                    streamName: String, region: String): DataStreamReader =
    StreamOps.readStream(spark).format("kinesis")
      .options(kinesisSourceOptions(cfg, streamName, region))

  /** The configured landing pipeline: the reference's main() loop
    * (consumer.py:282-314) under this engine, over the
    * [[graft.sources.GraftShards]] MicroBatchStream — the closest
    * offline twin of the reference's loop, where BATCH_SIZE is the
    * exact per-shard GetRecords Limit (consumer.py:118). A SHARD_NUMBER
    * pins the query to one shard's records (parity mode); omitting it
    * consumes every shard in one query.
    */
  def landConfigured(spark: SparkSession, sfDir: String,
                     cfg: StreamConfig): Unit = {
    // the shard count must match the envelope's routing or a high
    // SHARD_NUMBER would match nothing
    val base = StreamOps.dedupEventsFrame(StreamOps.shardsEventStream(spark,
      graft.sources.GraftShards.stageShardDir(sfDir = sfDir,
        spark = spark, nShards = cfg.nShards),
      batchSize = Some(cfg.batchSize)))
    val routed = cfg.shardNumber match {
      case Some(s) => base.filter(col("shard_id") === s)
      case None => base
    }
    StreamOps.eachBatch(routed, cfg.checkpointDir) { (batch, batchId) =>
      StreamOps.landBatch(batch, cfg.outDir, batchId)
    }
  }
}
