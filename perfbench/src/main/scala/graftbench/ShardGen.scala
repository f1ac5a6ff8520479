package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuilder

/** Seeded single-threaded producer of records in GraftShards' public
  * layout: `<dir>/shard=N/<file>`, one envelope line per record
  * (`SequenceNumber`, `ApproximateArrivalTimestamp` in µs, `PartitionKey`,
  * `Data` = the payload JSON), routed to shard `user_id mod nShards` by
  * partition key. About `dupShare` of the records redeliver one of the
  * last few thousand records unchanged (same shard, same payload), and
  * about `lateShare` of the new events carry an event time up to 30
  * minutes older than their position, both well inside the 1-hour
  * watermark the landing job dedups under.
  *
  * Per shard it logs each record's event id, creation time (the time it
  * was due, on the System.nanoTime clock), write time (epoch ms) and line
  * length, so the benchmark can derive expected outputs and latencies
  * without reading the landed data. The logs are read once generation has
  * ended.
  */
final class ShardGen(seed: Long, val nShards: Int, val dir: Path) {
  private val rnd = new SplittableRandom(seed)
  private val idSalt = new SplittableRandom(seed ^ 0x5DEECE66DL).nextLong()
  private val dupShare = 0.05
  private val lateShare = 0.05
  private val users = 5000
  private val types = Array("view", "click", "search", "purchase")

  private def logs() = Array.fill(nShards)(new ArrayBuilder.ofLong)
  private val idLog, dueLog, writtenLog, bytesLog = logs()
  lazy val ids: Array[Array[Long]] = idLog.map(_.result())
  lazy val dueNs: Array[Array[Long]] = dueLog.map(_.result())
  lazy val writtenMs: Array[Array[Long]] = writtenLog.map(_.result())
  lazy val bytes: Array[Array[Long]] = bytesLog.map(_.result())
  var lateMsMax = 0.0

  private var nextEvent = 0L
  private var seq = 0L
  // recent new events for redelivery: (event id, user, payload)
  private val ringSize = 2048
  private val ring = new Array[(Long, Int, String)](ringSize)
  private var ringN = 0L

  (0 until nShards).foreach(s => Files.createDirectories(dir.resolve(s"shard=$s")))

  /** One record: (shard, event id, envelope line). `tsUs` is the event
    * time of a new event; `arrivalUs` the envelope's arrival stamp.
    */
  private def record(tsUs: Long, arrivalUs: Long): (Int, Long, String) = {
    val (id, user, payload) =
      if (ringN > 0 && rnd.nextDouble() < dupShare)
        ring(rnd.nextInt(math.min(ringN, ringSize.toLong).toInt))
      else {
        val id = ((nextEvent * 0x9E3779B97F4A7C15L) + idSalt) & Long.MaxValue
        nextEvent += 1
        val user = rnd.nextInt(users)
        val ts =
          if (rnd.nextDouble() < lateShare) tsUs - rnd.nextLong(30L * 60 * 1000000)
          else tsUs
        val props = s"""{"page":"/p/${rnd.nextInt(500)}","ref":"r${rnd.nextInt(20)}"}"""
        val payload = s"""{"event_id":$id,"ts_us":$ts,"user_id":$user,""" +
          s""""event_type":"${types(rnd.nextInt(types.length))}",""" +
          s""""value":${rnd.nextInt(100000) / 100.0},"props":${Json(props)}}"""
        ring((ringN % ringSize).toInt) = (id, user, payload)
        ringN += 1
        (id, user, payload)
      }
    val line = f"""{"SequenceNumber":"$seq%020d","ApproximateArrivalTimestamp":$arrivalUs,""" +
      s""""PartitionKey":"$user","Data":${Json(payload)}}"""
    seq += 1
    (user % nShards, id, line)
  }

  private def log(shard: Int, id: Long, due: Long, wroteMs: Long, line: String): Unit = {
    idLog(shard) += id; dueLog(shard) += due; writtenLog(shard) += wroteMs
    bytesLog(shard) += line.length + 1
  }

  /** A backlog of `n` records, event times `stepUs` apart from `startUs`,
    * written as files of `linesPerFile` lines per shard.
    */
  def backlog(n: Int, startUs: Long, stepUs: Long, linesPerFile: Int): Unit = {
    val writers = new Array[BufferedWriter](nShards)
    val inFile = new Array[Int](nShards)
    val fileNo = new Array[Int](nShards)
    val now = System.nanoTime(); val nowMs = System.currentTimeMillis()
    try {
      for (i <- 0 until n) {
        val ts = startUs + i * stepUs
        val (s, id, line) = record(ts, ts + 1000)
        if (writers(s) == null || inFile(s) == linesPerFile) {
          if (writers(s) != null) writers(s).close()
          writers(s) = newWriter(dir.resolve(f"shard=$s/part-${fileNo(s)}%06d.txt"))
          fileNo(s) += 1; inFile(s) = 0
        }
        writers(s).write(line); writers(s).write('\n')
        inFile(s) += 1
        log(s, id, now, nowMs, line)
      }
    } finally writers.filter(_ != null).foreach(_.close())
  }

  /** Open loop: every `periodMs`, the records due in that tick are written
    * as one complete file per shard (hidden name, then rename), on a
    * schedule that does not wait for the consumer. Runs until
    * `durationMs` of schedule has been produced. Event times count from
    * `startUs` at the schedule's pace, so a seed always yields the same
    * records; the creation stamp logged for latency is the tick's due time.
    */
  def live(ratePerS: Int, periodMs: Int, durationMs: Long, startUs: Long): Unit = {
    val perTick = ratePerS * periodMs / 1000
    val t0 = System.nanoTime()
    val ticks = (durationMs / periodMs).toInt
    for (k <- 0 until ticks) {
      val due = t0 + k.toLong * periodMs * 1000000
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val tsUs = startUs + k.toLong * periodMs * 1000
      val recs = (0 until perTick).map(_ => record(tsUs, tsUs))
      for ((s, rs) <- recs.groupBy(_._1).toSeq.sortBy(_._1)) {
        val name = f"part-$k%08d.txt"
        val tmp = dir.resolve(s"shard=$s/.$name")
        val w = newWriter(tmp)
        try rs.foreach { case (_, _, line) => w.write(line); w.write('\n') }
        finally w.close()
        Files.move(tmp, dir.resolve(s"shard=$s/$name"), StandardCopyOption.ATOMIC_MOVE)
        val wroteMs = System.currentTimeMillis()
        rs.foreach { case (_, id, line) => log(s, id, due, wroteMs, line) }
      }
      lateMsMax = math.max(lateMsMax, (System.nanoTime() - due) / 1e6)
    }
  }

  private def newWriter(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8), 1 << 16)

  def total: Int = ids.map(_.length).sum
}
