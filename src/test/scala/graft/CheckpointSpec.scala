package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import graft.io.LocalFs
import graft.sources.GraftShards
import graft.streaming.StreamOps

/** The reference job's checkpoint and landing I/O: every offset-log,
  * commit-log and state-store file, and every landed dir and file, goes
  * through [[graft.io.LocalFs]] without a process launch; each non-empty
  * batch lands in one Spark job and an empty one lands nothing; and a
  * drain that crashes after landing a batch resumes from those files
  * exactly once.
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

  /** Drains the staged stream in batches of `cap` per shard through
    * `land`; returns the ids of the batches that read rows. */
  private def landDrain(cap: Int, ck: String)(land: (DataFrame, Long) => Unit): Seq[Long] = {
    val q = dedupedShards(cap).writeStream.foreachBatch(land)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
  }

  test("a shards → dedup → landBatch drain launches no chmod or readlink " +
       "process") {
    val cap = capFor(4)
    val out = tempDir("launch_land_out")
    val (batches, launches) = ProcessLaunches.during(
      landDrain(cap, tempDir("launch_land_ck"))(StreamOps.landBatch(_, out, _)))
    assert(batches.size === 4)
    val hadoop = ProcessLaunches.chmodOrReadlink(launches)
    assert(hadoop.isEmpty, s"${hadoop.size} chmod/readlink launches, e.g. " +
      hadoop.take(3).mkString("; "))
    assert(spark.read.schema(StreamOps.landedDataSchema).json(out).count() > 0)
    // the route is the write's own: the session's cached `file:`
    // filesystem is still a stock one, which launches chmod
    val conf = spark.sparkContext.hadoopConfiguration
    assert(!FileSystem.getLocal(conf).isInstanceOf[LocalFs.ChecksummedFileSystem])
    assert(conf.get("fs.file.impl.disable.cache") === null)
  }

  test("a non-empty landBatch runs one Spark job; an empty batch of the " +
       "deduped shape leaves no batch dir and no data file") {
    val cap = capFor(2)
    val out = tempDir("one_job_out")
    val ledger = Ledger.attach(spark)
    val (data, jobs) = try {
      val calls = Seq.newBuilder[Long]
      val data = landDrain(cap, tempDir("one_job_ck")) { (batch, id) =>
        calls += id
        ledger(s"landBatch-$id")(StreamOps.landBatch(batch, out, id))
      }
      (data, calls.result().map(id => id -> ledger.work(s"landBatch-$id").jobs))
    } finally ledger.close()
    assert(data.size === 2)
    // a watermark-only batch, if the drain ran one, is empty and pays one
    // write job too
    assert(jobs.forall(_._2 == 1L), jobs)
    // the dedup stage's tasks write the files: source scan, then dedup +
    // write, with no day exchange in between
    val stages = data.map(id => id -> ledger.work(s"landBatch-$id").stages)
    assert(stages.forall(_._2 == 2L), stages)
    def listing(dir: String): Seq[String] = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
    assert(listing(out) === data.map(id => s"batch=$id").sorted)

    // consumer.py:236: no put for an empty batch
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], dedupedShards(cap).schema)
    val emptyOut = tempDir("empty_out")
    StreamOps.landBatch(empty, emptyOut, 7L)
    assert(listing(emptyOut).isEmpty)
  }

  /** JVM-wide janino compiles so far; a code-cache hit compiles nothing. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Drains the staged stream in 4 batches through `write`; returns the
    * compiles made per data batch after the first (from the end of one
    * data batch's call to the end of the next's). */
  private def compilesAfterFirst(write: (DataFrame, Long) => Unit): Seq[Long] = {
    val cap = capFor(4)
    val at = scala.collection.mutable.Map.empty[Long, Long]
    val data = landDrain(cap, tempDir("codegen_ck")) { (batch, id) =>
      write(batch, id)
      at(id) = compiles
    }
    assert(data.size === 4)
    data.sorted.sliding(2).map { case Seq(a, b) => at(b) - at(a) }.toSeq
  }

  test("a landBatch drain compiles no more code per batch than the same " +
       "drain into noop") {
    val noop = compilesAfterFirst((batch, _) =>
      batch.write.format("noop").mode("overwrite").save())
    val out = tempDir("codegen_out")
    val land = compilesAfterFirst(StreamOps.landBatch(_, out, _))
    assert(land.sum <= noop.sum, s"landBatch $land, noop $noop")
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
    /** The landed (event_id, land_id) pairs. */
    def landedIds(out: String): Seq[(Long, String)] =
      spark.read.schema(StreamOps.landedDataSchema).json(out)
        .select("event_id", "land_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq

    val (whole, wholeCk) = (tempDir("whole_out"), tempDir("whole_ck"))
    assert(drain(whole, wholeCk, crash = false).size >= 5)
    val expected = landedIds(whole)
    assert(expected.nonEmpty && expected.map(_._1).distinct.size === expected.size)

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
    assert(got.map(_._1).distinct.size === got.size, "an event_id landed twice")
    // land_id is a function of event_id, so the replayed batch landed the
    // same rows
    assert(got.sorted === expected.sorted)
  }
}
