package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.StreamOps

/** One run of the reference job over a shard directory:
  * `StreamOps.shardsEventStream` → `StreamOps.dedupEventsFrame` →
  * `StreamOps.landBatch` in foreachBatch, at 1,000 records per shard per
  * batch. The run is cut between batches: once `stopWhen` holds, the next
  * batch parks before landing and the query is stopped, so no batch is
  * left half-landed.
  *
  * @param landed batch id → (nanoTime before, nanoTime after) its
  *               landBatch call, for every batch whose landing finished
  * @param ends   batch id → per-shard end offsets, from the offset log
  */
final case class Drain(progress: Seq[StreamingQueryProgress],
                       landed: Map[Long, (Long, Long)],
                       ends: Map[Long, Map[Int, Long]],
                       startNs: Long, endNs: Long) {
  def dataBatches: Seq[StreamingQueryProgress] =
    progress.filter(p => p.numInputRows > 0 && landed.contains(p.batchId))
  def rows: Long = dataBatches.map(_.numInputRows).sum
  /** Input rows per second from the first batch's start to the last
    * landed batch's end.
    */
  def recordsPerS: Double = {
    val last = landed.values.map(_._2).max
    rows / ((last - startNs) / 1e9)
  }
}

object Land {
  val BatchSize = 1000
  val Shards = 4

  def drain(spark: SparkSession, shardDir: Path, work: Path, name: String,
            trigger: Trigger, tag: Boolean)
           (stopWhen: StreamingQuery => Boolean): Drain = {
    val outDir = work.resolve(s"$name-out").toString
    val ckDir = work.resolve(s"$name-ck").toString
    val landed = new ConcurrentHashMap[Long, (Long, Long)]()
    val lock = new Object
    var stopRequested = false
    @volatile var inLand = false
    @volatile var query: StreamingQuery = null
    val sc = spark.sparkContext
    val land: (DataFrame, Long) => Unit = (batch, id) => {
      lock.synchronized {
        // park until stop() has marked the query terminated; stop()'s
        // interrupt can be consumed by the batch's own I/O before it gets here
        if (stopRequested) {
          while (query.isActive) lock.wait(20)
          throw new InterruptedException
        }
        inLand = true
      }
      try {
        val t0 = System.nanoTime()
        if (tag) Counters.withTag(sc, "landBatch")(StreamOps.landBatch(batch, outDir, id))
        else StreamOps.landBatch(batch, outDir, id)
        landed.put(id, (t0, System.nanoTime()))
        ()
      } finally inLand = false
    }
    val startNs = System.nanoTime()
    val q = StreamOps.dedupEventsFrame(
        StreamOps.shardsEventStream(spark, shardDir.toString, batchSize = Some(BatchSize)))
      .writeStream
      .foreachBatch(land)
      .option("checkpointLocation", ckDir)
      .trigger(trigger)
      .start()
    query = q
    while (q.isActive && !stopWhen(q)) q.awaitTermination(20)
    Harness.phase(s"$name stop requested")
    if (q.isActive) {
      lock.synchronized { stopRequested = true }
      while (inLand) Thread.sleep(5)
      // let the last landed batch commit and report before stopping
      val lastLanded = if (landed.isEmpty) -1L else landed.keys.asScala.max
      val deadline = System.nanoTime() + 5000000000L
      while (q.isActive && Option(q.lastProgress).forall(_.batchId < lastLanded) &&
             System.nanoTime() < deadline) Thread.sleep(5)
      q.stop()
    }
    q.exception.foreach(e => throw e)
    val endNs = System.nanoTime()
    val ends = landed.keys.asScala.map(id => id -> endOffsets(ckDir, id)).toMap
    Drain(q.recentProgress.toSeq, landed.asScala.toMap, ends, startNs, endNs)
  }

  /** Per-shard end offsets of batch `id`, from the query's offset log. */
  def endOffsets(ckDir: String, id: Long): Map[Int, Long] = {
    val lines = Files.readAllLines(java.nio.file.Paths.get(ckDir, "offsets", id.toString))
    "\"(\\d+)\":(\\d+)".r.findAllMatchIn(lines.asScala.last)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
  }

  /** Output checks, outside the timed region. The landed `event_id` set,
    * read back with `StreamOps.landedDataSchema`, must equal the distinct
    * ids of the records the landed batches consumed; no id may land twice;
    * each row's y/m/d/h directory must match its `ts`. Returns the ids of
    * the batches that failed a check.
    */
  def check(spark: SparkSession, gen: ShardGen, d: Drain, work: Path,
            name: String): Set[Long] = {
    val order = d.landed.keys.toSeq.sorted
    // first batch that consumed each record's event id
    val expected = mutable.HashMap.empty[Long, Long]
    val prev = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    for (b <- order; (s, e) <- d.ends(b).toSeq.sortBy(_._1)) {
      for (i <- prev(s).toInt until e.toInt) {
        val id = gen.ids(s)(i)
        if (!expected.contains(id)) expected(id) = b
      }
      prev(s) = e
    }
    val failed = mutable.Set.empty[Long]
    val outDir = work.resolve(s"$name-out")
    if (Files.exists(outDir)) {
      val rows = spark.read.schema(StreamOps.landedDataSchema).json(outDir.toString)
        .select(col("event_id"), col("batch").cast("long"),
          (year(col("ts")) === col("y") && month(col("ts")) === col("m") &&
           dayofmonth(col("ts")) === col("d") && hour(col("ts")) === col("h")).as("ok"))
        .collect()
      val seen = mutable.HashMap.empty[Long, Long]
      rows.foreach { r =>
        val id = r.getLong(0); val b = r.getLong(1)
        if (!r.getBoolean(2) || !expected.contains(id) || !d.landed.contains(b)) failed += b
        seen.get(id) match {
          case Some(b0) => failed += b0; failed += b
          case None => seen(id) = b
        }
      }
      expected.foreach { case (id, b) => if (!seen.contains(id)) failed += b }
    } else failed ++= expected.values
    failed.toSet
  }
}
