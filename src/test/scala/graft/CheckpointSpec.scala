package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.sources.GraftShards
import graft.streaming.StreamOps

/** The reference job's checkpoint I/O: every offset-log, commit-log and
  * state-store file goes through [[graft.io.LocalFs]] without a process
  * launch, and a drain that crashes after landing a batch resumes from
  * those files exactly once.
  */
class CheckpointSpec extends SparkSpec {

  private lazy val shardDir = GraftShards.stageShardDir(spark, sf0001)

  /** The per-shard cap that drains the staged stream in `n` batches. */
  private def capFor(n: Int): Int = {
    val longest = spark.read.format("graft-shards").load(shardDir)
      .groupBy("shardId").count().agg(max("count")).head.getLong(0)
    math.ceil(longest.toDouble / n).toInt
  }

  private def dedupedShards(cap: Int): DataFrame =
    StreamOps.dedupEventsFrame(
      StreamOps.shardsEventStream(spark, shardDir, batchSize = Some(cap)))

  test("a shards → dedup drain launches no chmod or readlink process") {
    val cap = capFor(4)
    val (batches, launches) = ProcessLaunches.during {
      val q = dedupedShards(cap).writeStream.format("noop")
        .option("checkpointLocation", tempDir("launch_ck"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
    assert(batches === 4)
    // Spark's own async `rm -rf` cleaner is not Hadoop's and may run
    val hadoop = ProcessLaunches.chmodOrReadlink(launches)
    assert(hadoop.isEmpty, s"${hadoop.size} chmod/readlink launches, e.g. " +
      hadoop.take(3).mkString("; "))
  }

  test("restart after a crash behind a landed batch: every id lands, " +
       "none twice, the same as an uninterrupted drain") {
    val cap = capFor(5)
    val crashAfter = 2L
    /** Drains into `out`; returns the batch ids `foreachBatch` saw. */
    def drain(out: String, ck: String, crash: Boolean): Seq[Long] = {
      val seen = Seq.newBuilder[Long]
      val q = dedupedShards(cap).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          seen += id
          StreamOps.landBatch(batch, out, id)
          if (crash && id == crashAfter)
            throw new IllegalStateException(s"crash after batch $id landed")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      seen.result()
    }
    def landedIds(out: String): Seq[Long] =
      spark.read.schema(StreamOps.landedDataSchema).json(out)
        .select("event_id").collect().map(_.getLong(0)).toSeq

    val (whole, wholeCk) = (tempDir("whole_out"), tempDir("whole_ck"))
    assert(drain(whole, wholeCk, crash = false).size >= 5)
    val expected = landedIds(whole)
    assert(expected.nonEmpty && expected.distinct.size === expected.size)

    val (out, ck) = (tempDir("crash_out"), tempDir("crash_ck"))
    intercept[StreamingQueryException](drain(out, ck, crash = true))
    assert(Files.isDirectory(Paths.get(out, s"batch=$crashAfter")),
      "the crashed batch landed before the crash")
    // the checkpoints were written through the fork-free filesystem
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.AbstractFileSystem.file.impl") ===
      classOf[graft.io.LocalFs.ChecksummedFs].getName)
    // the uncommitted batch is replayed first, then the drain goes on
    val resumed = drain(out, ck, crash = false)
    assert(resumed.headOption === Some(crashAfter))
    val got = landedIds(out)
    assert(got.distinct.size === got.size, "an event_id landed twice")
    assert(got.sorted === expected.sorted)
  }
}
