package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `graft-shards` DataSource-V2 streaming source — S1 as a REAL
  * `Source` implementation rather than a file-source stand-in, and the
  * seam that makes P7 (the reference's error-code predicate + retry,
  * consumer.py:56 and consumer.py:287-291) testable without network
  * egress.
  *
  * What it models, feature by feature against the reference consumer:
  *  - shard-fanned GetRecords paging (consumer.py:116-135): the stream
  *    directory holds one `shard=N/` subdir per shard; each micro-batch
  *    advances every shard's cursor by at most
  *    `kinesis.maxFetchRecordsPerShard` records (BATCH_SIZE,
  *    consumer.py:255) — shard → InputPartition → task (T7).
  *  - the record envelope (consumer.py:120-130, record.json): each line
  *    is `{"SequenceNumber", "ApproximateArrivalTimestamp" (µs long),
  *    "PartitionKey", "Data" (the payload JSON string)}`; the source
  *    emits the awslabs-connector-shaped columns (data BINARY,
  *    streamName, partitionKey, sequenceNumber, shardId,
  *    approximateArrivalTimestamp) so a live-connector swap is a
  *    format-string change only.
  *  - TRIM_HORIZON vs LATEST (consumer.py:96,
  *    `kinesis.startingPosition`): initial offsets at zero vs at the
  *    current per-shard tail.
  *  - the ClientError retry loop (consumer.py:287-291 catches
  *    ClientError around get_records and re-polls; consumer.py:56 is the
  *    error-CODE predicate distinguishing ResourceNotFoundException from
  *    everything else): the driver-side fetch path catches
  *    [[GraftClientError]], RETRIES codes in [[GraftShards.RetryableCodes]]
  *    with bounded backoff, and PROPAGATES ResourceNotFoundException
  *    immediately (a deleted stream cannot be retried into existence).
  *    Errors are injected via `graft.errors.*` options, so StreamingSpec
  *    proves retry-then-progress and fail-fast without a live endpoint —
  *    the same isolation seam the reference's own test draws
  *    (test/consumer_test.py mocks the boto3 client).
  *
  * Offsets are per-shard record indices (`{"0":12,"1":40}`), checkpointed
  * by the engine's offset log — the DynamoDB lease table's analog
  * (consumer.py:168-218) with compare-and-commit handled by Structured
  * Streaming. Scale: at production scale the per-shard cursor IS the
  * Kinesis model; the only local simplification is that record counts
  * come from counting staged lines (cached per file) instead of a
  * GetRecords response.
  */
object GraftShards {
  val ShortName = "graft-shards"

  /** Envelope schema the source emits (awslabs connector column shape). */
  val schema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("streamName", StringType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", StringType),
    StructField("shardId", StringType),
    StructField("approximateArrivalTimestamp", TimestampType)))

  /** The flat event payload carried in `Data` — the staged twin of
    * [[graft.streaming.StreamOps.rawSchema]] with ts as explicit µs.
    */
  val payloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The error-code predicate (P7, consumer.py:56): codes a consumer may
    * retry (throughput/iterator/transient service failures) vs codes it
    * must not (a missing stream stays missing). The boto3 taxonomy the
    * reference branches on, reproduced for the injected twin.
    */
  val RetryableCodes: Set[String] = Set(
    "ProvisionedThroughputExceededException",
    "ExpiredIteratorException",
    "ServiceUnavailable",
    "InternalFailure",
    "LimitExceededException")

  // ---- error injection + observability (test seam) -------------------
  private val injectRemaining = new ConcurrentHashMap[String, AtomicInteger]()
  private val retryCounts = new ConcurrentHashMap[String, AtomicInteger]()

  private[sources] def armInjection(key: String, times: Int): Unit =
    injectRemaining.putIfAbsent(key, new AtomicInteger(times))

  private[sources] def maybeInject(key: String, code: String): Unit = {
    val c = injectRemaining.get(key)
    if (c != null && c.getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new GraftClientError(code)
  }

  private[sources] def noteRetry(key: String): Unit =
    retryCounts.computeIfAbsent(key, _ => new AtomicInteger(0)).incrementAndGet()

  /** How many bounded retries the fetch path performed for a
    * `graft.errors.key` — StreamingSpec's proof that progress came
    * through the retry loop, not around it.
    */
  def retriesObserved(key: String): Int = {
    val c = retryCounts.get(key); if (c == null) 0 else c.get()
  }

  def resetErrorState(key: String): Unit = {
    injectRemaining.remove(key); retryCounts.remove(key); ()
  }

  /** A staged shard file, read through Hadoop's raw local filesystem.
    * `DataSourceRDD` sets a task's input bytes from the Hadoop
    * `FileSystem` read statistics of its thread and overwrites any count
    * a reader sets itself, so a `java.nio` read would report 0 bytes.
    * Opening and reading a file launches no process.
    */
  private[sources] def openShardFile(path: String): java.io.BufferedReader =
    new java.io.BufferedReader(new java.io.InputStreamReader(
      rawFs.open(new org.apache.hadoop.fs.Path(Paths.get(path).toUri)),
      StandardCharsets.UTF_8))

  private lazy val rawFs = {
    val fs = new graft.io.LocalFs.RawFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration(false))
    fs
  }

  // ---- line-count cache (the GetRecords "MillisBehindLatest" analog) --
  private val lineCountCache = new ConcurrentHashMap[String, (Long, Long, Long)]()

  /** Lines in a staged shard file, cached by (size, mtime) so repeated
    * latestOffset() polls don't rescan static files.
    */
  private[sources] def lineCount(p: Path): Long = {
    val key = p.toAbsolutePath.toString
    val size = Files.size(p)
    val mtime = Files.getLastModifiedTime(p).toMillis
    val cached = lineCountCache.get(key)
    if (cached != null && cached._1 == size && cached._2 == mtime) cached._3
    else {
      var n = 0L
      val r = Files.newBufferedReader(p, StandardCharsets.UTF_8)
      try { while (r.readLine() != null) n += 1 }
      finally r.close()
      lineCountCache.put(key, (size, mtime, n))
      n
    }
  }

  /** List a directory with the stream CLOSED (Files.list holds an open
    * directory handle until closed — on the per-micro-batch fetch path a
    * leak here exhausts file descriptors under a ProcessingTime trigger).
    */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Discover `shard=N` subdirs with their sorted data files. */
  private[sources] def shardFiles(root: String): Map[Int, Seq[Path]] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir))
      throw new GraftClientError("ResourceNotFoundException")
    listDir(dir)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("shard="))
      .map { p =>
        val id = p.getFileName.toString.stripPrefix("shard=").toInt
        val files = listDir(p)
          .filter(f => Files.isRegularFile(f) &&
            !f.getFileName.toString.startsWith(".") &&
            !f.getFileName.toString.startsWith("_"))
          .sortBy(_.getFileName.toString)
        id -> files
      }.toMap
  }

  /** Deterministic staging-dir key for a source path: readable sanitized
    * prefix + a hash of the FULL path — the sanitized name alone is
    * non-injective (/a/sf-1 and /a/sf_1 collide) and a collision would
    * silently stage the wrong dataset. Shared by every staging device
    * (this source's shard files, StreamOps.stageStreamDir's symlinks) so
    * the collision guarantee has one implementation.
    */
  def stagingKey(parts: String*): String = {
    val joined = parts.mkString("|")
    val hash = java.util.UUID.nameUUIDFromBytes(joined.getBytes("UTF-8"))
      .toString.take(8)
    joined.replaceAll("[^a-zA-Z0-9]", "_") + "_" + hash
  }

  private[graft] def shardCounts(root: String): Map[Int, Long] =
    shardFiles(root).map { case (s, fs) => s -> fs.map(lineCount).sum }

  // ---- staging --------------------------------------------------------

  /** Stage the driver's events table as per-shard envelope files (the
    * offline stream head): `<dir>/shard=N/part-*.txt`, one line per
    * record, shard-routed by pmod(user_id, nShards) (partition-key →
    * shard, like Kinesis), ordered by event_id within each shard (the
    * per-shard monotone SequenceNumber, zero-padded to sort lexically
    * like Kinesis's). Deterministic per (sfDir, nShards) and staged
    * once per JVM; one file per shard (each shard's rows land in exactly
    * one repartition task).
    */
  def stageShardDir(spark: SparkSession, sfDir: String,
                    nShards: Int = 4): String = synchronized {
    // the fingerprint records the SOURCE identity (size + mtime of the
    // events table): a regenerated warehouse at the same path must
    // re-stage, or this source would silently stream stale data while
    // the file-source twin reads the live warehouse
    def fingerprint(): String = {
      val t = Paths.get(sfDir, "events.parquet")
      val files = if (Files.isDirectory(t)) listDir(t).sortBy(_.toString)
                  else Seq(t)
      files.map(f => s"${f.getFileName}:${Files.size(f)}:" +
        s"${Files.getLastModifiedTime(f).toMillis}").mkString("\n")
    }
    val fp = fingerprint()
    // GENERATION dirs, named by the fingerprint hash: a re-stage never
    // rewrites a directory a running query (or another JVM sharing
    // java.io.tmpdir) may be draining — it builds a NEW sibling and
    // readers keep their old file list intact. Old generations are
    // deliberately not reaped: deleting one reintroduces the very race
    // this layout removes (an in-flight drain holding its paths), and a
    // generation only exists per (source-mutation × JVM lifetime), so
    // the tmpdir residue is bounded and machine-reclaimed. The
    // generation path also renews every staged file's absolute path, so
    // lineCount's (size, mtime) cache can never serve a count from a
    // previous staging of the same path (a same-size rewrite within
    // mtime granularity used to alias).
    val base = Paths.get(sys.props("java.io.tmpdir"), "graft_shards_src",
      stagingKey(sfDir, s"s$nShards"))
    val gen = java.util.UUID.nameUUIDFromBytes(fp.getBytes("UTF-8"))
      .toString.take(16)
    val dir = base.resolve(s"gen_$gen")
    val marker = dir.resolve("_STAGED")
    if (Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8") == fp)
      return dir.toString
    // build in a process-unique temp sibling, then ATOMICALLY rename
    // into the generation path: no reader — in this JVM or another
    // process polling the same tmpdir — can ever observe a half-built
    // or mid-delete staging dir
    val tmp = base.resolve(s"gen_$gen.tmp.${ProcessHandle.current.pid()}")
    if (Files.exists(tmp)) deleteTree(tmp) // crashed earlier attempt
    val ev = graft.Tables.events(spark, sfDir)
    val line = to_json(struct(
      format_string("%020d", col("event_id")).as("SequenceNumber"),
      unix_micros(col("ts")).as("ApproximateArrivalTimestamp"),
      col("user_id").cast("string").as("PartitionKey"),
      to_json(struct(
        col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"),
        col("props"))).as("Data")))
    ev.withColumn("shard", pmod(col("user_id"), lit(nShards)).cast("int"))
      .withColumn("value_line", line)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "event_id")
      .select(col("shard"), col("value_line").as("value"))
      .write.mode("overwrite").partitionBy("shard").text(tmp.toString)
    Files.write(tmp.resolve("_STAGED"), fp.getBytes("UTF-8"))
    try Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e @ (_: java.nio.file.FileAlreadyExistsException |
                _: java.nio.file.DirectoryNotEmptyException |
                _: java.nio.file.AccessDeniedException) =>
        // presumed: another process staged the same generation
        // concurrently (content is deterministic per fingerprint, so
        // theirs is ours). VERIFY that before discarding the staged tmp
        // build — an AccessDeniedException from an unrelated cause
        // (base-dir permissions) must surface, not silently return a
        // path that does not exist
        if (Files.exists(marker) &&
            new String(Files.readAllBytes(marker), "UTF-8") == fp)
          deleteTree(tmp)
        else throw e
    }
    dir.toString
  }

  /** Recursive delete (children before parents). */
  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      listDir(p).foreach(deleteTree)
    Files.deleteIfExists(p); ()
  }
}

/** The boto3 ClientError twin: carries the error CODE the reference's
  * predicate branches on (`e.response['Error']['Code']`, consumer.py:56).
  */
class GraftClientError(val code: String)
  extends RuntimeException(s"client error: $code")

/** Parsed reader options. */
private[sources] case class ShardsConf(
    path: String,
    streamName: String,
    startingPosition: String,
    maxFetchPerShard: Long,
    errorsKey: Option[String],
    errorsCode: String,
    errorsTimes: Int,
    maxRetries: Int,
    retryDelayMs: Long) {

  /** The GetRecords-shaped fetch: poll the per-shard tails, running the
    * reference's retry loop (consumer.py:287-291) with the error-code
    * predicate (consumer.py:56) over injected [[GraftClientError]]s.
    */
  def fetchCounts(): Map[Int, Long] = {
    var attempt = 0
    while (true) {
      try {
        errorsKey.foreach(k => GraftShards.maybeInject(k, errorsCode))
        return GraftShards.shardCounts(path)
      } catch {
        case e: GraftClientError
            if GraftShards.RetryableCodes.contains(e.code) &&
               attempt < maxRetries =>
          attempt += 1
          errorsKey.foreach(GraftShards.noteRetry)
          Thread.sleep(retryDelayMs)
      }
    }
    sys.error("unreachable")
  }
}

private[sources] object ShardsConf {
  def apply(options: CaseInsensitiveStringMap): ShardsConf = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-shards requires a path option (the staged shard dir)"))
    val conf = ShardsConf(
      path = path,
      streamName = options.getOrDefault("kinesis.streamName", "graft"),
      startingPosition = options
        .getOrDefault("kinesis.startingPosition", "TRIM_HORIZON")
        .toUpperCase,
      maxFetchPerShard =
        options.getLong("kinesis.maxFetchRecordsPerShard", 1000L),
      errorsKey = Option(options.get("graft.errors.key")),
      errorsCode = options.getOrDefault("graft.errors.code",
        "ProvisionedThroughputExceededException"),
      errorsTimes = options.getInt("graft.errors.times", 0),
      maxRetries = options.getInt("graft.errors.maxRetries", 3),
      retryDelayMs = options.getLong("graft.errors.retryDelayMs", 5L))
    require(conf.maxFetchPerShard > 0,
      s"kinesis.maxFetchRecordsPerShard=${conf.maxFetchPerShard} — " +
        "must be positive")
    require(Set("TRIM_HORIZON", "LATEST").contains(conf.startingPosition),
      s"kinesis.startingPosition=${conf.startingPosition} — " +
        "expected TRIM_HORIZON or LATEST")
    conf.errorsKey.foreach(k =>
      GraftShards.armInjection(k, conf.errorsTimes))
    conf
  }
}

/** `format("graft-shards")` registration point (DataSourceRegister via
  * META-INF/services).
  */
class GraftShardsProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = GraftShards.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftShards.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftShardsTable
}

private[sources] class GraftShardsTable extends Table with SupportsRead {
  override def name(): String = GraftShards.ShortName
  override def schema(): StructType = GraftShards.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftShardsScan(ShardsConf(options))
}

private[sources] class GraftShardsScan(conf: ShardsConf)
    extends ScanBuilder with Scan {
  override def build(): Scan = this
  override def readSchema(): StructType = GraftShards.schema
  override def description(): String =
    s"graft-shards(${conf.path}, cap=${conf.maxFetchPerShard}/shard)"
  override def toBatch: Batch = new GraftShardsBatch(conf)
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = new GraftShardsMicroBatchStream(conf)
}

/** Per-shard record-index offsets — the engine-checkpointed analog of
  * the DynamoDB lease row's `checkpoint` sequence number.
  */
private[graft] case class ShardOffsets(counts: Map[Int, Long])
    extends Offset {
  override def json(): String =
    counts.toSeq.sortBy(_._1)
      .map { case (s, n) => s""""$s":$n""" }.mkString("{", ",", "}")
}

private[graft] object ShardOffsets {
  def fromJson(s: String): ShardOffsets = {
    val body = s.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) ShardOffsets(Map.empty)
    else ShardOffsets(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap)
  }
}

private[sources] class GraftShardsMicroBatchStream(conf: ShardsConf)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // AvailableNow semantics: snapshot the tails once at query start and
  // drain to exactly that point, batch by capped batch
  private var availableNowTarget: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(conf.fetchCounts())

  override def initialOffset(): Offset =
    if (conf.startingPosition == "LATEST")
      ShardOffsets(conf.fetchCounts())
    else
      ShardOffsets(GraftShards.shardFiles(conf.path).keys
        .map(_ -> 0L).toMap)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val tails = availableNowTarget.getOrElse(conf.fetchCounts())
    val from = start.asInstanceOf[ShardOffsets].counts
    // a shard present in the committed offsets but absent from the
    // freshly polled tails (its dir was removed outright) is the same
    // shrank-under-checkpoint failure as a backwards tail — fail the
    // stream rather than silently dropping the shard from the offsets
    val gone = from.keySet -- tails.keySet
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"graft-shards: shard(s) ${gone.toSeq.sorted.mkString(",")} " +
        s"present in the committed offsets disappeared from ${conf.path} " +
        "— the source shrank under an existing checkpoint; use a fresh " +
        "checkpoint dir for the re-staged stream")
    ShardOffsets(tails.map { case (shard, tail) =>
      val cur = from.getOrElse(shard, 0L)
      // a tail BELOW the committed offset is a sequence-number
      // regression (the staged dir was rebuilt smaller against a live
      // checkpoint) — a real Kinesis source fails such a stream rather
      // than silently re-emitting committed records on later growth,
      // and so does this one
      if (tail < cur)
        throw new IllegalStateException(
          s"graft-shards: shard $shard tail ($tail) is below the " +
          s"committed offset ($cur) — the source at ${conf.path} shrank " +
          "under an existing checkpoint; use a fresh checkpoint dir for " +
          "the re-staged stream")
      shard -> math.min(tail, cur + conf.maxFetchPerShard)
    })
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].counts
    val e = end.asInstanceOf[ShardOffsets].counts
    val files = GraftShards.shardFiles(conf.path)
    e.toSeq.sortBy(_._1).flatMap { case (shard, hi) =>
      val lo = s.getOrElse(shard, 0L)
      if (hi > lo)
        Some(GraftShardsPartition(shard,
          files.getOrElse(shard, Seq.empty)
            .map(p => (p.toAbsolutePath.toString,
              GraftShards.lineCount(p))).toArray,
          lo, hi, conf.streamName): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftShardsReaderFactory

  override def deserializeOffset(json: String): Offset =
    ShardOffsets.fromJson(json)
  override def commit(end: Offset): Unit = {}
  override def stop(): Unit = {}
}

private[sources] class GraftShardsBatch(conf: ShardsConf) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val files = GraftShards.shardFiles(conf.path)
    files.toSeq.sortBy(_._1).map { case (shard, fs) =>
      val withCounts = fs.map(p =>
        (p.toAbsolutePath.toString, GraftShards.lineCount(p))).toArray
      GraftShardsPartition(shard, withCounts,
        0L, withCounts.map(_._2).sum,
        conf.streamName): InputPartition
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftShardsReaderFactory
}

/** One shard's record range [start, end) over its ordered staged
  * (file, lineCount) pairs — the shard → task mapping (T7). Counts ride
  * along so a deep-offset reader SKIPS whole files instead of reading
  * the prefix back (a capped drain would otherwise re-read O(n²) lines
  * across its batches).
  */
private[sources] case class GraftShardsPartition(
    shard: Int, files: Array[(String, Long)], start: Long, end: Long,
    streamName: String) extends InputPartition

private[sources] class GraftShardsReaderFactory
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    new GraftShardsReader(partition.asInstanceOf[GraftShardsPartition])
}

private[sources] class GraftShardsReader(p: GraftShardsPartition)
    extends PartitionReader[InternalRow] {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val shardIdStr =
    UTF8String.fromString(f"shardId-${p.shard}%012d")
  private val streamNameStr = UTF8String.fromString(p.streamName)
  private var fileIdx = 0
  private var globalIdx = 0L
  private var reader: java.io.BufferedReader = _
  private var current: InternalRow = _
  // skip WHOLE files below the start index using the planned line
  // counts — only the start-straddling file pays a line-by-line skip
  while (fileIdx < p.files.length &&
         globalIdx + p.files(fileIdx)._2 <= p.start) {
    globalIdx += p.files(fileIdx)._2
    fileIdx += 1
  }

  private def nextLine(): String = {
    while (fileIdx < p.files.length) {
      if (reader == null)
        reader = GraftShards.openShardFile(p.files(fileIdx)._1)
      val line = reader.readLine()
      if (line != null) return line
      reader.close(); reader = null; fileIdx += 1
    }
    null
  }

  override def next(): Boolean = {
    // skip to the partition's start index within the straddling file
    while (globalIdx < p.start) {
      if (nextLine() == null) return false
      globalIdx += 1
    }
    if (globalIdx >= p.end) return false
    val line = nextLine()
    if (line == null) return false
    globalIdx += 1
    val node = mapper.readTree(line)
    current = new GenericInternalRow(Array[Any](
      node.get("Data").asText().getBytes(StandardCharsets.UTF_8),
      streamNameStr,
      UTF8String.fromString(node.get("PartitionKey").asText()),
      UTF8String.fromString(node.get("SequenceNumber").asText()),
      shardIdStr,
      node.get("ApproximateArrivalTimestamp").asLong()))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (reader != null) reader.close()
}
