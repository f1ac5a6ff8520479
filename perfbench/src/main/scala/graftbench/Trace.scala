package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `trace` groups the spans of one
  * drain or query; `parent` is the span that caused this one (0 = root).
  */
final case class Span(id: Int, trace: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long,
                      attrs: Map[String, Double] = Map.empty)

/** In-memory span store, written out once when the benchmark ends. */
final class Tracer {
  private val ids = new AtomicInteger(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def newId(): Int = ids.incrementAndGet()

  def add(s: Span): Unit = synchronized { buf += s; () }

  def span[A](name: String, trace: Int, parent: Int)(body: Int => A): A = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id) finally add(Span(id, trace, parent, name, t0, System.nanoTime()))
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover (children merged, clipped to the
    * parent).
    */
  def selfMsByName: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        for ((a, b) <- iv) {
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def toJson: String = Json(Map("self_ms_by_name" -> selfMsByName,
    "spans" -> spans.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)
    }))
}

/** Per-tag Spark task counters. Jobs are tagged through the thread-local
  * property [[Counters.TagKey]], which Spark copies into each job's
  * properties and into threads started by the tagged thread (so a
  * streaming query's jobs inherit the tag of the call that started it).
  */
final class Counters extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var runMs = 0L
    var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L
  }
  private val byTag = mutable.HashMap.empty[String, Acc]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.TagKey)))
      .getOrElse("untagged")
    acc(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters summed over the tags accepted by `p`. */
  def sum(p: String => Boolean): Acc = synchronized {
    val out = new Acc
    byTag.foreach { case (t, a) if p(t) =>
      out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
      out.runMs += a.runMs; out.inputBytes += a.inputBytes
      out.shuffleRead += a.shuffleRead; out.shuffleWrite += a.shuffleWrite
      out.spill += a.spill
    case _ => }
    out
  }
}

object Counters {
  val TagKey = "graftbench.tag"

  def withTag[A](sc: SparkContext, tag: String)(body: => A): A = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }
}

/** Listeners of one traced run: task counters, the
  * analysis/optimization/planning time of every batch action, and every
  * streaming progress report. Events are attributed to `current` at the
  * time they are delivered; callers drain the bus before changing it.
  */
final class Listeners(spark: SparkSession) {
  val counters = new Counters
  @volatile var current: String = "setup"
  private val planning = mutable.HashMap.empty[String, Double]
  private val progress = mutable.ArrayBuffer.empty[(String, StreamingQueryProgress)]

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Listeners.this.synchronized {
        val ms = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
        planning(current) = planning.getOrElse(current, 0.0) + ms
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized { progress += (current -> e.progress); () }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(qel)
    spark.streams.addListener(sql)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(qel)
    spark.streams.removeListener(sql)
  }

  def drain(): Unit = org.apache.spark.graftbench.BusDrain(spark.sparkContext)

  def planningMs(tag: String): Double = synchronized(planning.getOrElse(tag, 0.0))

  def progressOf(tag: String): Seq[StreamingQueryProgress] =
    synchronized(progress.collect { case (t, p) if t == tag => p }.toList)
}
