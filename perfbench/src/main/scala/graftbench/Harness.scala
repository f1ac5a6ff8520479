package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** What one run measured. `e2e` holds the end-to-end metrics (measured with
  * tracing off), `layers` the per-layer metrics of a traced run.
  */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        e2e: Map[String, Double], layers: Map[String, Double],
                        outputs: Seq[(String, String)] = Nil)

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, data: Path, out: Path)

/** Entry point of one benchmark run (see perfbench/README.md):
  * `Harness --workload W --seed N --seconds S --trace 0|1 --work DIR
  *  --data DIR --out FILE`. Writes the run's result as JSON to FILE and,
  * when traced, its spans next to it.
  */
object Harness {
  val Cores = 2

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("data")).toAbsolutePath,
      Paths.get(kv("out")).toAbsolutePath)
    Files.createDirectories(o.work)
    watchdog(WatchdogS)
    val tracer = new Tracer
    val spark = session(o.work, Cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    phase("session started")
    val r = o.workload match {
      case "land_backlog" => LandWorkloads.backlog(spark, o, tracer, sessionS)
      case "land_live" => LandWorkloads.live(spark, o, tracer, sessionS)
      case "dump" => QueryMix.dump(spark, o)
      case w => sys.error(s"unknown workload $w")
    }
    phase("measured and checked")
    SparkSession.active.stop()
    val layers = if (o.trace) r.layers + ("jvm.rss_peak_mb" -> peakRssMb()) else r.layers
    // a value that could not be measured (no samples) is left out
    def finite(m: Map[String, Double]) = m.filter(_._2.isFinite)
    Files.writeString(o.out, Json(Map("correct" -> r.correct,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> finite(r.e2e), "layers" -> finite(layers),
      "outputs" -> r.outputs.map { case (q, d) => Seq(q, d) })))
    if (o.trace)
      Files.writeString(Paths.get(o.out.toString.stripSuffix(".json") + ".spans.json"),
        tracer.toJson)
    sys.exit(0)
  }

  /** A run that overruns its limit prints every thread's stack and exits
    * with code 3, so a hang is diagnosable and never outlives the run.
    */
  val WatchdogS = 170

  private def watchdog(limitS: Int): Unit = {
    val t = new Thread(() => {
      Thread.sleep(limitS * 1000L)
      System.err.println(s"[perfbench] run exceeded $limitS s; thread dump follows")
      Thread.getAllStackTraces.forEach { (th, st) =>
        System.err.println(s"\"${th.getName}\" ${th.getState}")
        st.foreach(f => System.err.println(s"    at $f"))
      }
      Runtime.getRuntime.halt(3)
    }, "perfbench-watchdog")
    t.setDaemon(true)
    t.start()
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Heap still in use after full collections, MB: what the measured
    * region left behind (state, caches, leaked blocks), free of the
    * collector's timing.
    */
  def retainedHeapMb(): Double = {
    (1 to 2).foreach(_ => System.gc())
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (steal, total) CPU ticks of the machine, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail
      .map(_.toLong)
    (f(7), f.sum)
  }

  /** Share of CPU time the hypervisor took from this machine between two
    * [[cpuTicks]] readings: a slow host phase shows here, not in the engine.
    */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs a phase boundary with the seconds since the JVM started. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s  $name")

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** The two workloads of the reference job. */
object LandWorkloads {
  import Harness._
  import Stats._

  /** Open-loop rate of land_live, records/s, and its tick. */
  val LiveRate = 2000
  val LivePeriodMs = 100
  /** Records in the measured backlog; more than one measured drain lands. */
  val BacklogRecords = 240000
  /** Records in each untimed warm-up drain: four full batches. */
  val WarmupRecords = 16000
  /** The first batches of the measured backlog drain: the query's start-up
    * (its plan's first executions and state store loads), untimed and left
    * out of the end-to-end metrics, which describe the running job.
    */
  val StartupBatches = 3
  /** Windows of the measured region. On land_backlog, each timing metric
    * is the best of its values over windows of [[WindowBatches]] batches:
    * the host's slow phases only add time, so the least-disturbed window is
    * the closest reading of the engine's own speed, and a change that slows
    * every batch slows that window too. On land_live, the tail is the median
    * over windows of [[TailWindowS]] seconds of records (by creation time)
    * of each window's p99 latency.
    */
  val WindowBatches = 10
  val TailWindowS = 2
  /** Seconds of land_live's stream before the measured records: the query
    * starts up on them, and they are landed and checked but not timed.
    */
  val LiveWarmInS = 3
  /** Event-time spacing of backlog records, µs: the live stream's, so the
    * backlog replays the traffic land_live produces (2,000 records per
    * event-second; all 240,000 fit in two minutes, far inside the 1-hour
    * watermark, so the dedup state holds every id the drain has seen).
    */
  val StepUs = 1000000L / LiveRate
  /** Backlog start: 2026-01-05T00:00:00Z, µs. */
  val StartUs = 1767571200000000L

  private def backlogGen(seed: Long, dir: Path, n: Int): ShardGen = {
    val g = new ShardGen(seed, Land.Shards, dir)
    g.backlog(n, StartUs, StepUs, linesPerFile = 2000)
    g
  }

  /** Untimed warm-up, repeated: a small seeded backlog drained to the end.
    * Returns the median seconds of the repetitions.
    */
  private def warmup(spark: SparkSession, o: Opts, reps: Int = 3): Double =
    median((1 to reps).map { i =>
      val dir = o.work.resolve(s"warmup-$i")
      val (_, s) = timed {
        val g = backlogGen(o.seed * 31 + i, dir.resolve("shards"), WarmupRecords)
        Land.drain(spark, g.dir, dir, "drain", Trigger.AvailableNow(), tag = false)(_ => false)
      }
      deleteTree(dir)
      s
    })

  /** land_backlog: a closed drain of a seeded backlog with
    * Trigger.AvailableNow, cut between batches once `seconds` have passed.
    */
  def backlog(spark: SparkSession, o: Opts, tracer: Tracer, sessionS: Double): Result = {
    val warmS = warmup(spark, o)
    val (gen, genS) = timed(backlogGen(o.seed, o.work.resolve("backlog"), BacklogRecords))
    val setupS = sessionS + genS + warmS
    phase("set up")
    if (!o.trace) {
      val (r, e2e) = measureBacklog(spark, o, o.seconds, gen, "drain", None)
      return r.copy(e2e = e2e + ("setup_s" -> setupS))
    }
    val passes = tracedPasses(o, tracer)(measureBacklog(spark, o, _, gen, _, _))
    val mix = QueryMix.traced(spark, o, QueryMix.BatchGroup, "mix_batch_s", tracer)
    val local1 = localOne(o)
    withMix(passes, mix, Map("land_backlog.local1_records_per_s" -> local1))
  }

  /** The measured passes of a traced run, each `seconds / 4` long, in the
    * order untraced, traced, traced, untraced, so that JVM warming and
    * drift of the host's speed over the run weigh on both kinds alike.
    * The layers are those of the first traced pass, plus
    * `trace.overhead_share.<m>`: the traced passes' mean end-to-end value
    * minus the untraced passes' mean, as a share of the latter.
    */
  private def tracedPasses(o: Opts, tracer: Tracer)(
      pass: (Int, String, Option[Tracer]) => (Result, Map[String, Double])): Result = {
    val seconds = math.max(1, o.seconds / 4)
    val runs = Seq("untraced-1" -> None, "traced-1" -> Some(tracer),
      "traced-2" -> Some(tracer), "untraced-2" -> None)
      .map { case (name, t) => (t.isDefined, pass(seconds, name, t)) }
    val (traced, untraced) = runs.partition(_._1)
    def mean(rs: Seq[(Boolean, (Result, Map[String, Double]))], k: String) =
      rs.map(_._2._2(k)).sum / rs.size
    val overhead = Seq("throughput_per_s", "latency_p50_ms").map { k =>
      s"trace.overhead_share.$k" -> (mean(traced, k) - mean(untraced, k)) / mean(untraced, k)
    }
    val all = runs.map(_._2._1)
    Result(all.forall(_.correct), all.map(_.attempted).sum, all.map(_.failed).sum,
      Map.empty, traced.head._2._1.layers ++ overhead)
  }

  /** A traced run's result: its passes and the query group run beside them. */
  private def withMix(passes: Result, mix: (Seq[QueryMix.Exec], Map[String, Double]),
                      extra: Map[String, Double]): Result = {
    val (execs, mixLayers) = mix
    val mixFailed = execs.count(!_.ok)
    passes.copy(correct = passes.correct && mixFailed == 0,
      attempted = passes.attempted + execs.size,
      failed = passes.failed + mixFailed,
      layers = passes.layers ++ mixLayers ++ extra,
      outputs = QueryMix.outputs(execs))
  }

  private def measureBacklog(spark: SparkSession, o: Opts, seconds: Int, gen: ShardGen,
                             name: String,
                             tracer: Option[Tracer]): (Result, Map[String, Double]) = {
    val l = tracer.map { _ => val l = new Listeners(spark); l.start(); l.current = name; l }
    // the clock starts once the query's start-up batches have landed
    var deadline = Long.MaxValue
    var ticks = cpuTicks()
    val d = withTag(spark, name, tracer.isDefined) {
      Land.drain(spark, gen.dir, o.work, name, Trigger.AvailableNow(), tracer.isDefined) { q =>
        if (deadline == Long.MaxValue &&
            Option(q.lastProgress).exists(_.batchId >= StartupBatches - 1)) {
          deadline = System.nanoTime() + seconds * 1000000000L
          ticks = cpuTicks()
        }
        System.nanoTime() > deadline
      }
    }
    val steal = stealShare(ticks, cpuTicks())
    phase(s"$name drained")
    l.foreach(_.stop())
    val heapMb = retainedHeapMb()
    val failed = Land.check(spark, gen, d, o.work, name)
    phase(s"$name checked")
    // each measured batch with the landing ends of the batch before it and of itself
    val steady = d.dataBatches.filter(_.batchId >= StartupBatches)
    val spans = steady.map(p => (p, d.landed(p.batchId - 1)._2, d.landed(p.batchId)._2))
    val batchMs = steady.map(_.durationMs.get("triggerExecution").toDouble)
    phase(s"$name batch ms: ${batchMs.map(_.toLong).mkString(" ")}")
    // (records/s, p50 ms, p90 ms) of each window
    val byWindow = windows(spans, WindowBatches).map { w =>
      val ms = w.map(_._1.durationMs.get("triggerExecution").toDouble)
      (w.map(_._1.numInputRows).sum / ((w.last._3 - w.head._2) / 1e9), median(ms), quantile(ms, 0.9))
    }
    val e2e = Map(
      "host_steal_share" -> steal,
      "heap_retained_mb" -> heapMb,
      "throughput_per_s" -> byWindow.map(_._1).max,
      "latency_p50_ms" -> byWindow.map(_._2).min,
      "latency_tail_ms" -> byWindow.map(_._3).min)
    val layers = (tracer, l) match {
      case (Some(t), Some(ls)) =>
        drainLayers(spark, gen, d, ls, t, o.work, name) + ("host.steal_share" -> steal)
      case _ => Map.empty[String, Double]
    }
    (Result(failed.isEmpty, d.dataBatches.size, failed.size, Map.empty, layers), e2e)
  }

  /** land_live: an open loop at [[LiveRate]] records/s for `seconds`,
    * drained by a back-to-back trigger; latency per record is from the
    * time it was due to the return of the landBatch call that landed it.
    */
  def live(spark: SparkSession, o: Opts, tracer: Tracer, sessionS: Double): Result = {
    val warmS = warmup(spark, o)
    val setupS = sessionS + warmS
    phase("set up")
    if (!o.trace) {
      val (r, e2e) = measureLive(spark, o, o.seconds, "live", None)
      return r.copy(e2e = e2e + ("setup_s" -> setupS))
    }
    val passes = tracedPasses(o, tracer)(measureLive(spark, o, _, _, _))
    val mix = QueryMix.traced(spark, o, QueryMix.StreamGroup, "mix_stream_s", tracer)
    withMix(passes, mix, Map.empty)
  }

  private def measureLive(spark: SparkSession, o: Opts, seconds: Int, name: String,
                          tracer: Option[Tracer]): (Result, Map[String, Double]) = {
    val gen = new ShardGen(o.seed, Land.Shards, o.work.resolve(s"$name-shards"))
    val l = tracer.map { _ => val l = new Listeners(spark); l.start(); l.current = name; l }
    @volatile var genDone = false
    val producer = new Thread(() => {
      try gen.live(LiveRate, LivePeriodMs, (seconds + LiveWarmInS) * 1000L, StartUs)
      finally genDone = true
    }, "live-generator")
    val ticks = cpuTicks()
    val d = withTag(spark, name, tracer.isDefined) {
      Land.drain(spark, gen.dir, o.work, name, Trigger.ProcessingTime(0L), tracer.isDefined) {
        q =>
          if (!producer.isAlive && !genDone) producer.start()
          if (genDone) { q.processAllAvailable(); true } else false
      }
    }
    producer.join()
    val steal = stealShare(ticks, cpuTicks())
    phase(s"$name drained")
    l.foreach(_.stop())
    val heapMb = retainedHeapMb()
    val failed = Land.check(spark, gen, d, o.work, name)
    // (due, latency ms) of every landed record
    val lat = mutable.ArrayBuffer.empty[(Long, Double)]
    var covered = 0L
    val prev = Array.fill(Land.Shards)(0L)
    for (b <- d.landed.keys.toSeq.sorted; (s, e) <- d.ends(b)) {
      val done = d.landed(b)._2
      for (i <- prev(s).toInt until e.toInt) lat += gen.dueNs(s)(i) -> (done - gen.dueNs(s)(i)) / 1e6
      covered += e - prev(s); prev(s) = e
    }
    val byDue = lat.sortBy(_._1)
    val from = byDue.head._1 + LiveWarmInS * 1000000000L
    val latMs = byDue.dropWhile(_._1 < from).map(_._2).toSeq
    phase(s"$name window p50/p99 ms: " + windows(latMs, LiveRate * TailWindowS)
      .map(w => f"${median(w)}%.0f/${quantile(w, 0.99)}%.0f").mkString(" "))
    phase(s"$name checked")
    val missing = gen.total - covered
    val e2e = Map(
      "host_steal_share" -> steal,
      "heap_retained_mb" -> heapMb,
      "throughput_per_s" -> covered / ((d.landed.values.map(_._2).max - d.startNs) / 1e9),
      "latency_p50_ms" -> median(latMs),
      "latency_tail_ms" -> windowedQuantile(latMs, LiveRate * TailWindowS, 0.99))
    val layers = (tracer, l) match {
      case (Some(t), Some(ls)) =>
        drainLayers(spark, gen, d, ls, t, o.work, name) +
          ("generator.late_ms_max" -> gen.lateMsMax) + ("host.steal_share" -> steal)
      case _ => Map.empty[String, Double]
    }
    val nFailed = failed.size + (if (missing > 0) 1 else 0)
    (Result(nFailed == 0, d.dataBatches.size, nFailed, Map.empty, layers), e2e)
  }

  /** Single-core reference: one AvailableNow drain of a fixed backlog at
    * local[1], to the end. Records/s.
    */
  private def localOne(o: Opts): Double = {
    SparkSession.active.stop()
    val spark = session(o.work.resolve("local1"), 1)
    val dir = o.work.resolve("local1")
    val g = backlogGen(o.seed + 1, dir.resolve("shards"), 6 * Land.Shards * Land.BatchSize)
    val d = Land.drain(spark, g.dir, dir, "drain", Trigger.AvailableNow(), tag = false)(_ => false)
    d.recordsPerS
  }

  private def withTag[A](spark: SparkSession, tag: String, on: Boolean)(body: => A): A =
    if (on) Counters.withTag(spark.sparkContext, tag)(body) else body

  /** Per-layer metrics of one traced drain; also records its spans. */
  private def drainLayers(spark: SparkSession, gen: ShardGen, d: Drain, l: Listeners,
                          t: Tracer, work: Path, name: String): Map[String, Double] = {
    val data = d.dataBatches
    def dur(k: String): Seq[Double] = data.map(p => p.durationMs.getOrDefault(k, 0L).toDouble)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val dedup = data.flatMap(_.stateOperators.filter(_.operatorName.toLowerCase.contains("dedup")))
    // per-shard end offsets of the last landed batch, and start offsets per batch
    val order = d.landed.keys.toSeq.sorted
    val finalEnds = order.lastOption.map(d.ends).getOrElse(Map.empty[Int, Long])
    val inputBytes = finalEnds.map { case (s, e) => (0 until e.toInt).map(gen.bytes(s)(_)).sum }.sum
    val startSum = order.zip(0L +: order.map(b => d.ends(b).values.sum)).toMap
    val lag = data.map { p =>
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      val avail = (0 until gen.nShards).map { s =>
        var n = 0; while (n < gen.writtenMs(s).length && gen.writtenMs(s)(n) <= ts) n += 1; n
      }.sum
      (avail - startSum(p.batchId)).toDouble
    }
    val landMs = data.map(p => d.landed(p.batchId)).map { case (a, b) => (b - a) / 1e6 }
    val landAcc = l.counters.sum(_ == "landBatch")
    val all = l.counters.sum(tag => tag == name || tag == "landBatch")
    val outFiles = {
      val s = Files.walk(work.resolve(s"$name-out"))
      try s.filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .toArray.map(p => Files.size(p.asInstanceOf[Path])).toSeq
      finally s.close()
    }
    val landedRows = spark.read.schema(graft.streaming.StreamOps.landedDataSchema)
      .json(work.resolve(s"$name-out").toString).count()
    recordSpans(t, d, name)
    Map(
      "GraftShards.latestOffset_ms" -> mean(dur("latestOffset")),
      "GraftShards.getBatch_ms" -> mean(dur("getBatch")),
      "GraftShards.records_in" -> d.rows.toDouble,
      "GraftShards.input_bytes" -> inputBytes.toDouble,
      "GraftShards.lag_records_max" -> (if (lag.isEmpty) 0.0 else lag.max),
      "microbatch.batches" -> data.size.toDouble,
      "microbatch.queryPlanning_ms" -> mean(dur("queryPlanning")),
      "microbatch.addBatch_ms" -> mean(dur("addBatch")),
      "microbatch.walCommit_ms" -> mean(dur("walCommit")),
      "microbatch.commitOffsets_ms" -> mean(dur("commitOffsets")),
      "microbatch.non_addbatch_share" -> (1 - dur("addBatch").sum / dur("triggerExecution").sum),
      "dedup.state_rows" -> dedup.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "dedup.state_mem_bytes" -> dedup.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "dedup.state_commit_ms" -> mean(dedup.map(_.commitTimeMs.toDouble)),
      "dedup.dropped_by_watermark" -> dedup.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "dedup.kept_ratio" -> landedRows.toDouble / d.rows,
      "landBatch.ms_p50" -> median(landMs),
      "landBatch.ms_p90" -> quantile(landMs, 0.9),
      "landBatch.jobs_per_batch" -> landAcc.jobs.toDouble / data.size,
      "Landing.files_written" -> outFiles.size.toDouble,
      "Landing.bytes_written" -> outFiles.sum.toDouble) ++ sparkLayers(all)
  }

  def sparkLayers(a: Counters#Acc): Map[String, Double] = Map(
    "spark.jobs" -> a.jobs.toDouble,
    "spark.stages" -> a.stages.toDouble,
    "spark.tasks" -> a.tasks.toDouble,
    "spark.input_bytes" -> a.inputBytes.toDouble,
    "spark.shuffle_read_bytes" -> a.shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
    "spark.spill_bytes" -> a.spill.toDouble,
    "spark.executor_run_ms" -> a.runMs.toDouble)

  /** Spans of one drain: the drain itself, one `microbatch` span per
    * progress report with its `durationMs` phases laid out in execution
    * order as children, the dedup state commit, and the landBatch call.
    */
  private def recordSpans(t: Tracer, d: Drain, name: String): Unit = {
    val trace = t.newId()
    val root = t.newId()
    t.add(Span(root, trace, 0, s"drain.$name", d.startNs, d.endNs))
    val offNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")
    d.progress.foreach { p: StreamingQueryProgress =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + offNs
      val total = p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L
      val mb = t.newId()
      t.add(Span(mb, trace, root, "microbatch", start, start + total,
        Map("batch_id" -> p.batchId.toDouble, "rows" -> p.numInputRows.toDouble)))
      var at = start
      phases.foreach { ph =>
        val ns = p.durationMs.getOrDefault(ph, 0L) * 1000000L
        val id = t.newId()
        t.add(Span(id, trace, mb, s"microbatch.$ph", at, at + ns))
        if (ph == "addBatch") {
          // the batch's plan, and so its state commit, runs inside landBatch
          val (parent, end) = d.landed.get(p.batchId) match {
            case Some((a, b)) =>
              val lb = t.newId()
              t.add(Span(lb, trace, id, "landBatch", a, b))
              (lb, b)
            case None => (id, at + ns)
          }
          p.stateOperators.foreach { so =>
            val c = so.commitTimeMs * 1000000L
            t.add(Span(t.newId(), trace, parent, s"state.${so.operatorName}.commit",
              end - c, end, Map("rows_total" -> so.numRowsTotal.toDouble,
                "mem_bytes" -> so.memoryUsedBytes.toDouble)))
          }
        }
        at += ns
      }
    }
  }
}
