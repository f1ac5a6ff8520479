package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.sources.GraftShards
import graft.streaming.StreamOps

/** The `graft-shards` DSv2 source (S1 as a real MicroBatchStream) and
  * the P7 error-code-predicate retry path, proved end-to-end offline —
  * the same seam the reference's own test draws (test/consumer_test.py
  * mocks the boto3 client; here the injected GraftClientError plays the
  * mock's role).
  */
class GraftShardsSpec extends SparkSpec {

  private lazy val shardDir = GraftShards.stageShardDir(spark, sf0001)
  private lazy val nEvents = Tables.events(spark, sf0001).count()

  test("batch read: every staged record, envelope schema, shard routing") {
    val df = spark.read.format("graft-shards").load(shardDir)
    assert(df.schema === GraftShards.schema)
    assert(df.count() === nEvents)
    // payload round-trips to the exact events table
    val parsed = df.select(
      from_json(col("data").cast("string"), GraftShards.payloadSchema)
        .as("p"), col("shardId"), col("sequenceNumber"))
    val back = parsed.select(col("p.event_id").as("event_id"),
      timestamp_micros(col("p.ts_us")).as("ts"),
      col("p.user_id").as("user_id"), col("p.event_type").as("event_type"),
      col("p.value").as("value"), col("p.props").as("props"))
    val orig = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(back.exceptAll(orig).count() === 0L)
    assert(orig.exceptAll(back).count() === 0L)
    // shard routing law: shardId = pmod(user_id, 4), Kinesis-style name
    val misrouted = parsed.filter(
      col("shardId") =!= format_string("shardId-%012d",
        pmod(col("p.user_id"), lit(4)))).count()
    assert(misrouted === 0L)
    // sequence numbers sort lexically like Kinesis's (zero-padded)
    assert(parsed.filter(
      col("sequenceNumber") =!= format_string("%020d", col("p.event_id")))
      .count() === 0L)
    // a non-positive per-shard cap is rejected when the reader is built
    Seq("0", "-5").foreach { cap =>
      intercept[IllegalArgumentException] {
        spark.read.format("graft-shards")
          .option("kinesis.maxFetchRecordsPerShard", cap).load(shardDir)
          .count()
      }
    }
  }

  test("a batch read reports the staged shard files' size as its input bytes") {
    val files = {
      val s = Files.walk(Paths.get(shardDir))
      // data files only: not the `.crc` sidecars or the `_STAGED` marker
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getParent.getFileName.toString.startsWith("shard=") &&
        !p.getFileName.toString.startsWith(".")).toSeq
      finally s.close()
    }
    assert(files.nonEmpty)
    val ledger = Ledger.attach(spark)
    try {
      ledger("read")(spark.read.format("graft-shards").load(shardDir)
        .write.format("noop").mode("overwrite").save())
      assert(ledger.work("read").inputBytes === files.map(Files.size).sum)
    } finally ledger.close()
  }

  test("BATCH_SIZE pages the drain: cap 100/shard → multiple batches, " +
       "union = whole stream, per-batch per-shard input ≤ cap") {
    val out = tempDir("shards_out")
    val ck = tempDir("shards_ck")
    val q = StreamOps.shardsEventStream(spark, shardDir,
        batchSize = Some(100))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          batch.groupBy("shard_id").agg(count(lit(1)).as("n"))
            .withColumn("batch_id", lit(id))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$out/batch=$id")
          ()
        }
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val landed = spark.read.parquet(out)
    val batches = landed.select("batch_id").distinct().count()
    assert(batches >= 3, s"cap 100 over ${nEvents} events in 4 shards " +
      s"must page through >= 3 micro-batches, got $batches")
    assert(landed.agg(sum("n")).head.getLong(0) === nEvents)
    assert(landed.filter(col("n") > 100).count() === 0L,
      "a micro-batch exceeded the per-shard GetRecords cap")
  }

  test("P7 retry-then-progress: transient ClientError codes are retried " +
       "and the stream still lands everything") {
    val key = s"p7_${UUID.randomUUID().toString.take(8)}"
    val out = tempDir("p7_out")
    val ck = tempDir("p7_ck")
    val q = StreamOps.shardsEventStream(spark, shardDir,
        errorOpts = Map(
          "graft.errors.key" -> key,
          "graft.errors.code" -> "ProvisionedThroughputExceededException",
          "graft.errors.times" -> "3",
          "graft.errors.maxRetries" -> "5"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          batch.coalesce(1).write.mode("overwrite").parquet(s"$out/batch=$id")
          ()
        }
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(GraftShards.retriesObserved(key) === 3,
      "the three injected throughput errors must each be retried")
    assert(spark.read.parquet(out).count() === nEvents,
      "progress must come THROUGH the retry loop, losing nothing")
    GraftShards.resetErrorState(key)
  }

  test("P7 fail-fast: ResourceNotFoundException is NOT retryable — " +
       "the error-code predicate propagates it immediately") {
    val key = s"p7rnf_${UUID.randomUUID().toString.take(8)}"
    val ck = tempDir("p7rnf_ck")
    val ex = intercept[StreamingQueryException] {
      val q = StreamOps.shardsEventStream(spark, shardDir,
          errorOpts = Map(
            "graft.errors.key" -> key,
            "graft.errors.code" -> "ResourceNotFoundException",
            "graft.errors.times" -> "1"))
        .writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(ex).exists {
      case c: graft.sources.GraftClientError =>
        c.code == "ResourceNotFoundException"
      case _ => false
    }, s"expected GraftClientError(ResourceNotFoundException) in: $ex")
    assert(GraftShards.retriesObserved(key) === 0,
      "a non-retryable code must never enter the retry loop")
    GraftShards.resetErrorState(key)
  }

  test("LATEST starting position: an AvailableNow drain from the tail " +
       "lands nothing") {
    val ck = tempDir("latest_ck")
    val out = tempDir("latest_out")
    val q = spark.readStream.format("graft-shards")
      .option("path", shardDir)
      .option("kinesis.startingPosition", "LATEST")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          batch.coalesce(1).write.mode("overwrite").parquet(s"$out/batch=$id")
          ()
        }
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(!Files.list(Paths.get(out)).iterator().hasNext,
      "LATEST must start at the current per-shard tail")
  }

  test("checkpoint resume: a second AvailableNow run over the same " +
       "checkpoint re-lands nothing (offsets committed)") {
    val out = tempDir("resume_out")
    val ck = tempDir("resume_ck")
    def drain(): Long = {
      var landedBatches = 0L
      val q = StreamOps.shardsEventStream(spark, shardDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!batch.isEmpty) {
            landedBatches += 1
            batch.coalesce(1).write.mode("overwrite").parquet(s"$out/batch=$id")
            ()
          }
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      landedBatches
    }
    assert(drain() >= 1L)
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst === nEvents)
    assert(drain() === 0L, "a resumed drain with no new data lands nothing")
    assert(spark.read.parquet(out).count() === nEvents)
  }

  test("fetch path closes every handle it opens: 200 polls, flat fd count " +
       "(regression lock for the r13 Files.list leak)") {
    // the per-micro-batch poll (fetchCounts -> shardCounts -> shardFiles
    // -> listDir) opens one directory stream per dir per poll; pre-fix,
    // unclosed Files.list streams leaked ~5 fds per poll and a
    // ProcessingTime trigger exhausted the process limit. /proc/self/fd
    // is the ground truth on this platform: 200 polls on the fixed path
    // add ~0 entries, on the leaking path ~1000 — the threshold of 60
    // tolerates ambient JVM noise while failing the pre-fix code by 16x.
    def fdCount(): Int = {
      val l = new java.io.File("/proc/self/fd").list()
      assume(l != null, "/proc/self/fd not readable on this platform")
      l.length
    }
    GraftShards.shardCounts(shardDir) // warm classloading + count cache
    val before = fdCount()
    (1 to 200).foreach(_ => GraftShards.shardCounts(shardDir))
    val after = fdCount()
    assert(after - before < 60,
      s"fd count grew $before -> $after across 200 polls: the fetch " +
      "path is leaking directory/file handles")
  }

  test("sequence-number regression fails loudly: a re-staged-smaller " +
       "stream under a live checkpoint must not silently re-emit") {
    // stage a 2-shard copy, drain it fully, then rewrite one shard file
    // SHORTER and drain again from the same checkpoint: latestOffset
    // must throw (offsets below the committed start), not re-emit
    val src = tempDir("shards_regress")
    val f0 = Paths.get(src, "shard=0"); Files.createDirectories(f0)
    def writeLines(n: Int): Unit = {
      val lines = (1 to n).map { i =>
        val sn = f"$i%020d"
        s"""{"SequenceNumber":"$sn","ApproximateArrivalTimestamp":${i}000000,"PartitionKey":"$i","Data":"{}"}"""
      }
      Files.write(f0.resolve("part-0.txt"),
        lines.mkString("\n").getBytes("UTF-8")); ()
    }
    writeLines(10)
    val ck = tempDir("shards_regress_ck")
    val out = tempDir("shards_regress_out")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-shards").load(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); ()
    }
    drain()
    assert(spark.read.parquet(out).count() === 10L)
    writeLines(3) // the stream shrank under the checkpoint
    // lineCount caches by (size, mtime): force a distinct size already
    // guaranteed (3 < 10 lines), so the poll sees the short tail
    val ex = intercept[StreamingQueryException] { drain() }
    val root = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).toSeq.last
    assert(root.getMessage.contains("below the committed offset"),
      s"expected the sequence-regression failure, got: $root")
  }

  test("a shard dir removed under a live checkpoint fails loudly: the " +
       "committed shard must not silently vanish from the offsets") {
    // stage two shards, drain fully, then delete one shard dir outright
    // and drain from the same checkpoint: latestOffset must throw the
    // shrank-under-checkpoint failure (the disappeared shard would
    // otherwise just drop out of the offset map and the stream would
    // keep running as if it never existed)
    val src = tempDir("shards_gone")
    def writeShard(s: Int, n: Int): Unit = {
      val d = Paths.get(src, s"shard=$s"); Files.createDirectories(d)
      val lines = (1 to n).map { i =>
        val sn = f"$i%020d"
        s"""{"SequenceNumber":"$sn","ApproximateArrivalTimestamp":${i}000000,"PartitionKey":"$i","Data":"{}"}"""
      }
      Files.write(d.resolve("part-0.txt"),
        lines.mkString("\n").getBytes("UTF-8")); ()
    }
    writeShard(0, 5); writeShard(1, 5)
    val ck = tempDir("shards_gone_ck")
    val out = tempDir("shards_gone_out")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-shards").load(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); ()
    }
    drain()
    assert(spark.read.parquet(out).count() === 10L)
    val goneDir = Paths.get(src, "shard=1")
    Files.delete(goneDir.resolve("part-0.txt"))
    Files.delete(goneDir)
    val ex = intercept[StreamingQueryException] { drain() }
    val root = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).toSeq.last
    assert(root.getMessage.contains("disappeared from"),
      s"expected the disappeared-shard failure, got: $root")
    assert(root.getMessage.contains("1"),
      s"failure must name the missing shard: $root")
  }

  test("offset json round-trip") {
    val o = graft.sources.ShardOffsets(Map(0 -> 12L, 3 -> 40L, 1 -> 0L))
    assert(o.json() === """{"0":12,"1":0,"3":40}""")
    assert(graft.sources.ShardOffsets.fromJson(o.json()) === o)
    assert(graft.sources.ShardOffsets.fromJson("{}") ===
      graft.sources.ShardOffsets(Map.empty))
  }

  test("q_stream_land_dsv2 equals q_stream_land (same landed layout " +
       "through either source)") {
    val a = StreamOps.streamLandCountsShards(spark, sf0001).collect()
    val b = StreamOps.streamLandCounts(spark, sf0001).collect()
    assert(a.toSeq === b.toSeq)
  }
}
