package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.{StreamConfig, StreamOps}

/** The migration surface: reference env vars in, reference behavior out. */
class StreamConfigSpec extends SparkSpec {

  test("fromEnv mirrors the reference's names and defaults") {
    val defaults = StreamConfig.fromEnv(Map.empty, fallbackRoot = "/tmp/x")
    assert(defaults.batchSize === 1000) // consumer.py:255 default
    assert(defaults.prefix === "js")    // consumer.py:257 'js/' key prefix
    assert(defaults.shardNumber.isEmpty)
    val cfg = StreamConfig.fromEnv(Map(
      "BUCKET_NAME" -> "/tmp/bucket", "PREFIX" -> "landed",
      "BATCH_SIZE" -> "500", "SHARD_NUMBER" -> "3"))
    // parity-mode workers get shard-scoped output AND checkpoint paths —
    // two workers sharing one bucket must never share either
    assert(cfg.outDir === "/tmp/bucket/landed/shard=3")
    assert(cfg.checkpointDir === "/tmp/bucket/_checkpoint/shard=3")
    assert(cfg.batchSize === 500)
    assert(cfg.shardNumber === Some(3))
    // SHARD_NUMBER >= nShards(8); a BATCH_SIZE of 0 would land nothing
    // and a negative one would move end offsets below start offsets
    Seq("SHARD_NUMBER" -> "12", "BATCH_SIZE" -> "0", "BATCH_SIZE" -> "-5")
      .foreach { kv =>
        intercept[IllegalArgumentException](StreamConfig.fromEnv(Map(kv)))
      }
    intercept[IllegalArgumentException](StreamConfig("/tmp/x", nShards = 0))
  }

  test("Kinesis source wiring maps StreamConfig onto connector options (egress-gated)") {
    val cfg = StreamConfig.fromEnv(Map("BATCH_SIZE" -> "500"))
    val opts = StreamConfig.kinesisSourceOptions(cfg, "clickstream", "eu-west-1")
    // option spellings target the AWS Labs connector
    // software.amazon.kinesis:spark-streaming-sql-kinesis-connector_2.13 (1.x),
    // whose options are `kinesis.`-prefixed — see kinesisSourceOptions docs
    assert(opts("kinesis.streamName") === "clickstream")
    assert(opts("kinesis.region") === "eu-west-1")
    // the reference replays from the stream head (consumer.py:92-130,
    // TRIM_HORIZON shard iterator)
    assert(opts("kinesis.startingPosition") === "TRIM_HORIZON")
    // BATCH_SIZE = the GetRecords limit (consumer.py:255) → per-shard cap
    assert(opts("kinesis.maxFetchRecordsPerShard") === "500")
    // building the reader is pure option plumbing — no I/O until .load(),
    // which stays egress-gated out of this offline suite
    val reader = StreamConfig.kinesisReader(spark, cfg, "clickstream", "eu-west-1")
    assert(reader !== null)
  }

  test("BATCH_SIZE bounds each trigger: 3 files at BATCH_SIZE=1 land as 3 batches") {
    val root = Paths.get(Scratch.dir("test_mb"))
    val src = root.resolve("src")
    Files.createDirectories(src)
    // 3 source files → with maxFilesPerTrigger=1, AvailableNow runs 3
    // micro-batches, each landing under its own batch= dir
    // time-ordered so each later file is newer — no batch's rows fall
    // behind the watermark advanced by an earlier one
    val ev = Tables.events(spark, sf0001).orderBy("ts").limit(300)
      .select(col("event_id"), unix_micros(col("ts")).as("ts"),
              col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
    ev.grouped(100).zipWithIndex.foreach { case (rows, i) =>
      val df = StreamOps.encodeRawTs(spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq.map(r =>
          org.apache.spark.sql.Row(r.getLong(0), r.getLong(1),
            r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5)))),
        StreamOps.rawUsSchema))
      df.coalesce(1).write.parquet(s"$src/part$i")
      val f = Files.list(Paths.get(s"$src/part$i")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.move(Paths.get(f), src.resolve(s"f$i.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/part$i"))
    }
    val cfg = StreamConfig(landingRoot = root.resolve("land").toString, batchSize = 1)
    val q = StreamOps.dedupedEvents(spark, src.toString,
        maxFilesPerTrigger = Some(cfg.batchSize))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        StreamOps.landBatch(batch, cfg.outDir, batchId)
      }
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batchDirs = Files.list(Paths.get(cfg.outDir)).toArray.map(_.toString)
      .filter(_.contains("batch="))
    assert(batchDirs.length === 3,
      s"expected 3 micro-batches, got: ${batchDirs.mkString(",")}")
    val landed = spark.read.schema(StreamOps.landedDataSchema).json(cfg.outDir)
    assert(landed.count() === 300)
  }

  test("SHARD_NUMBER parity mode lands exactly that shard's records") {
    val root = Paths.get(Scratch.dir("test_cfg"))
    Files.createDirectories(root)
    val cfg = StreamConfig.fromEnv(Map(
      "BUCKET_NAME" -> root.toString, "SHARD_NUMBER" -> "3"))
    StreamConfig.landConfigured(spark, sf0001, cfg)
    val landed = spark.read
      .schema(StreamOps.landedDataSchema).json(cfg.outDir)
    assert(landed.count() > 0)
    assert(landed.filter(col("shard_id") =!= 3).count() === 0)
    val expected = Tables.events(spark, sf0001)
      .filter(pmod(col("user_id"), lit(8)) === 3).count()
    assert(landed.count() === expected)
  }

  test("the configured pipeline over the DSv2 source: SHARD_NUMBER " +
       "parity + BATCH_SIZE as the exact per-shard GetRecords limit") {
    val root = Paths.get(Scratch.dir("test_cfg"))
    Files.createDirectories(root)
    // BATCH_SIZE=60: each shard holds ~125 of sf0.001's 1000 events
    // (8 shards), so the drain must page through >= 3 offset-logged
    // micro-batches — the reference's GetRecords(Limit) loop shape
    val cfg = StreamConfig.fromEnv(Map(
      "BUCKET_NAME" -> root.toString, "SHARD_NUMBER" -> "3",
      "BATCH_SIZE" -> "60"))
    StreamConfig.landConfigured(spark, sf0001, cfg)
    val landed = spark.read
      .schema(StreamOps.landedDataSchema).json(cfg.outDir)
    assert(landed.count() > 0)
    assert(landed.filter(col("shard_id") =!= 3).count() === 0)
    val expected = Tables.events(spark, sf0001)
      .filter(pmod(col("user_id"), lit(8)) === 3).count()
    assert(landed.count() === expected,
      "the DSv2-sourced pipeline must land exactly the pinned shard")
    val batchDirs = Files.list(Paths.get(cfg.outDir)).toArray.map(_.toString)
      .filter(_.contains("batch="))
    assert(batchDirs.length >= 3,
      s"BATCH_SIZE=60 must page the drain, got: ${batchDirs.length}")
  }
}
