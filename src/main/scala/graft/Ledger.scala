package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Run.{d3, str}

/** The per-query work ledger: what each measured run did, in counters
  * that do not move with the host's speed — jobs, stages and tasks;
  * input, shuffle and spill bytes; summed executor run time; driver
  * planning time; janino compiles and their time; block storage held
  * after release; per stream drain, the mean `durationMs` split and
  * state rows; the longest job and stage; and the [[WidthDecision]]s
  * made. Counter names follow perfbench's, so Bench's `work` map and a
  * traced perfbench run read side by side.
  *
  * Jobs are tagged through the local property [[Ledger.TagKey]], which
  * Spark copies into each job's properties and into the threads the
  * tagged thread starts (a streaming query's jobs carry the tag of the
  * call that started it). Planning times, stream progress and width
  * decisions carry no job properties: they are filed under the tag being
  * measured when they are delivered, and [[apply]] drains the listener
  * bus before it returns, so none lands under the next tag.
  *
  * A harness attaches it (Bench, ClusterProbe); engine code never does,
  * so the engine's own runs carry no listener.
  */
final class Ledger private (spark: SparkSession) {
  import Ledger._

  private val sc = spark.sparkContext
  private val entries = mutable.LinkedHashMap.empty[String, Work]
  private val stageTag = mutable.HashMap.empty[Int, String]
  // job id → (tag, start ms, call site, stage ids)
  private val jobStart = mutable.HashMap.empty[Int, (String, Long, String, Seq[Int])]
  // running SQL execution id → its description (the action's call site)
  private val executions = mutable.HashMap.empty[Long, String]
  @volatile private var current = Untagged

  private def entry(tag: String): Work = entries.getOrElseUpdate(tag, new Work)

  private val tasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Ledger.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val tag = prop(TagKey).getOrElse(Untagged)
      entry(tag).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
      // jobs that AQE or a broadcast submits from Spark's async threads
      // carry no call site of their own: name them after their SQL
      // execution, then after the result stage (the job's last)
      val site = prop("callSite.short")
        .orElse(prop(SQLExecution.EXECUTION_ID_KEY).flatMap(id => executions.get(id.toLong)))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?")
      jobStart(e.jobId) = (tag, e.time, site, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Ledger.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (tag, t0, site, stages) =>
        val w = entry(tag)
        val s = (e.time - t0) / 1000.0
        if (s > w.longestJobS) { w.longestJobS = s; w.longestJobSite = site }
        stages.foreach(stageTag.remove)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Ledger.this.synchronized {
        val si = e.stageInfo
        val w = entry(stageTag.getOrElse(si.stageId, Untagged))
        w.stages += 1
        val s = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
        if (s > w.longestStageS) { w.longestStageS = s; w.longestStageTasks = si.numTasks }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Ledger.this.synchronized {
      val w = entry(stageTag.getOrElse(e.stageId, Untagged))
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.runMs += m.executorRunTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case d: WidthDecision => Ledger.this.synchronized { entry(current).widths += d; () }
      case s: SparkListenerSQLExecutionStart =>
        Ledger.this.synchronized { executions(s.executionId) = s.description }
      case s: SparkListenerSQLExecutionEnd =>
        Ledger.this.synchronized { executions.remove(s.executionId); () }
      case _ =>
    }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Ledger.this.synchronized {
        entry(current).planningMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      // a report without addBatch ran no batch
      if (e.progress.durationMs.containsKey("addBatch")) Ledger.this.synchronized {
        entry(current).drains.getOrElseUpdate(e.progress.runId.toString,
          mutable.ArrayBuffer.empty) += e.progress
        ()
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Runs `body` as the measured run of `tag`, replacing any earlier
    * entry of that tag, and returns once all its events are delivered. */
  def apply[A](tag: String)(body: => A): A = {
    // events of earlier calls (a release's catalog listing) keep their tag
    ListenerBridge.drain(sc)
    synchronized { entries(tag) = new Work }
    val prev = sc.getLocalProperty(TagKey)
    current = tag
    sc.setLocalProperty(TagKey, tag)
    val (compiles0, compileNs0) = codegen()
    try body
    finally {
      ListenerBridge.drain(sc)
      val (compiles, compileNs) = codegen()
      synchronized {
        val w = entry(tag)
        w.codegenCompiles = compiles - compiles0
        w.codegenMs = (compileNs - compileNs0) / 1e6
      }
      current = Untagged
      sc.setLocalProperty(TagKey, prev)
    }
  }

  /** Records the block storage the session holds now as `tag`'s
    * `storage_after_bytes`; call it after [[Run.release]]. */
  def storageAfter(tag: String): Unit = {
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    synchronized { entry(tag).storageAfterBytes = bytes }
  }

  def work(tag: String): Work = synchronized(entry(tag))

  def close(): Unit = {
    ListenerBridge.drain(sc)
    sc.removeSparkListener(tasks)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(progress)
  }
}

object Ledger {
  val TagKey = "graft.ledger.tag"
  private val Untagged = "untagged"

  /** Janino compiles so far and their summed time in ns. Both counts are
    * JVM-wide, so in local mode they include the compiles inside tasks;
    * a cache hit compiles nothing and counts nothing. */
  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Registers a new ledger's listeners on `spark`. */
  def attach(spark: SparkSession): Ledger = {
    val l = new Ledger(spark)
    spark.sparkContext.addSparkListener(l.tasks)
    spark.listenerManager.register(l.planning)
    spark.streams.addListener(l.progress)
    l
  }

  /** The counters of one tag. */
  final class Work {
    var jobs, stages, tasks, runMs = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    var planningMs = 0L
    var codegenCompiles = 0L
    var codegenMs = 0.0
    var storageAfterBytes = -1L
    var longestJobS = 0.0
    var longestJobSite = ""
    var longestStageS = 0.0
    var longestStageTasks = 0
    val drains = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[StreamingQueryProgress]]
    val widths = mutable.ArrayBuffer.empty[WidthDecision]

    def toJson: String = {
      val streams = drains.values.map { ps =>
        def mean(f: StreamingQueryProgress => Double) = d3(ps.map(f).sum / ps.size)
        val keys = ps.flatMap(_.durationMs.keySet.asScala).distinct.sorted
        val split = keys.map(k =>
          s"${str(k)}:${mean(_.durationMs.getOrDefault(k, 0L).toDouble)}")
        s"""{"batches":${ps.size},"durationMs":${split.mkString("{", ",", "}")},""" +
          s""""state_rows":${mean(_.stateOperators.map(_.numRowsTotal).sum.toDouble)}}"""
      }
      val ws = widths.map(d =>
        s"""{"site":${str(d.site)},"bytes":${d.bytes},"width":${str(d.width)},"session":${d.session}}""")
      s"""{"spark.jobs":$jobs,"spark.stages":$stages,"spark.tasks":$tasks,""" +
        s""""spark.input_bytes":$inputBytes,"spark.shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""spark.shuffle_write_bytes":$shuffleWriteBytes,"spark.spill_bytes":$spillBytes,""" +
        s""""spark.executor_run_ms":$runMs,"planning_ms":$planningMs,""" +
        s""""codegen_compiles":$codegenCompiles,"codegen_ms":${d3(codegenMs)},""" +
        s""""storage_after_bytes":$storageAfterBytes,""" +
        s""""longest_job":{"site":${str(longestJobSite)},"s":${d3(longestJobS)}},""" +
        s""""longest_stage":{"s":${d3(longestStageS)},"tasks":$longestStageTasks},""" +
        s""""drains":${streams.mkString("[", ",", "]")},"width":${ws.mkString("[", ",", "]")}}"""
    }
  }
}
