package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference engine's core "query": land clickstream events into a
  * time-partitioned file layout, deduplicated.
  *
  * Reference: consumer.py:221-232 derives an S3 key `y=Y/m=M/d=D/h=H/` from
  * the FIRST record of each batch (so a batch straddling an hour boundary is
  * mis-filed); consumer.py:301-303 dedups only when the stored checkpoint
  * sequence number reappears inside the current batch. We improve on both:
  * per-RECORD partition derivation via `partitionBy`, and record-level dedup
  * on the event key — semantics the reference intends but cannot deliver.
  *
  * Scale notes: `partitionBy("y","m","d","h")` gives directory-level
  * partition pruning for downstream readers; dedup is a hash shuffle on the
  * event key only (no sort), and at 100 TB would be bounded per event-time
  * range by first repartitioning on (y,m,d) so each output partition is
  * written by a narrow set of tasks.
  */
object Landing {

  /** Adds y/m/d/h integer partition columns from a timestamp column.
    * Mirrors consumer.py:226-232 (non-zero-padded components — int columns
    * reproduce that naturally in directory names).
    */
  def withTimeBuckets(df: DataFrame, ts: Column): DataFrame =
    df.withColumns(timeBuckets(ts))

  private def timeBuckets(ts: Column): ListMap[String, Column] =
    ListMap("y" -> year(ts), "m" -> month(ts), "d" -> dayofmonth(ts),
      "h" -> hour(ts))

  /** Record-level exact dedup on a key — the correct form of the
    * reference's batch-overlap check (consumer.py:292-303).
    */
  def dedup(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** The landed row shape: time buckets + a `land_id`, built in one
    * projection. The reference names each S3 object with uuid4
    * (consumer.py:244); here that naming lives in Spark's part-file names,
    * and `land_id` is the md5 of `event_id`. It is stable across replays,
    * so a replayed batch lands byte-identical rows, and it has no
    * per-analysis seed (`uuid()` has one, inlined into the generated
    * code), so the same plan compiles once, not once per batch.
    */
  def bucketedWithLandId(df: DataFrame, ts: Column): DataFrame =
    df.withColumns(timeBuckets(ts) +
      ("land_id" -> md5(col("event_id").cast("string"))))

  /** THE landing write, shared by every landing path (batch, compaction
    * input, streaming micro-batch). Returns the data-file schema
    * (partition cols live in directory names) so read-back never needs a
    * schema-inference pass over just-written JSON. The write's files go
    * through [[graft.io.LocalFs.writeOptions]], so no dir, file or `.crc`
    * sidecar costs a `chmod` process.
    *
    * Each task sorts its rows by the partition columns and keeps one open
    * writer, so it writes one file per (y,m,d,h) it holds. The write adds
    * no exchange of its own: the two batch landings
    * ([[landPartitionedJson]], [[landCompactCycle]]) repartition on
    * (y,m,d) first, so a day is written by one task instead of one file
    * per input partition and hour; a streaming micro-batch
    * ([[graft.streaming.StreamOps.landBatch]]) is written by the dedup
    * stage's own tasks, as Spark's `FileStreamSink` does, one file per
    * (dedup partition, hour) and no extra stage per batch.
    */
  def writeLandedJson(bucketed: DataFrame, outDir: String,
                      mode: String = "overwrite"): StructType = {
    bucketed
      .write.options(graft.io.LocalFs.writeOptions).mode(mode)
      .partitionBy("y", "m", "d", "h")
      .json(outDir)
    dataFileSchema(bucketed)
  }

  /** One writer task per (y,m,d): the batch landings' input layout. */
  private def byDay(df: DataFrame): DataFrame =
    df.repartition(col("y"), col("m"), col("d"))

  /** Data-file schema of a landed frame: everything except the partition
    * columns, which live in directory names.
    */
  def dataFileSchema(bucketed: DataFrame): StructType =
    StructType(bucketed.schema.filterNot(f =>
      Seq("y", "m", "d", "h").contains(f.name)))

  /** Batch landing pipeline: dedup → bucket → partitioned JSON files.
    * Returns the landed row count per partition, read back from the sink
    * (proves the roundtrip like the reference's put_object + later replay).
    */
  def landPartitionedJson(df: DataFrame, ts: Column, key: Seq[String],
                          outDir: String): DataFrame = {
    val bucketed = bucketedWithLandId(dedup(df, key), ts)
    val dataSchema = writeLandedJson(byDay(bucketed), outDir)
    df.sparkSession.read.schema(dataSchema).json(outDir)
      .groupBy("y", "m", "d", "h")
      .agg(count(lit(1)).as("n_events"))
  }

  /** Full land→compact cycle over a fresh scratch dir: dedup + bucket +
    * hour-partitioned JSON landing, then day-level parquet compaction.
    * (The streaming ingest variant of the same layout is measured
    * separately by q_stream_land.)
    */
  def landCompactCycle(df: DataFrame, ts: Column, key: Seq[String]): DataFrame = {
    val root = graft.Scratch.dir("compact")
    val outDir = s"$root/in"
    val compactDir = s"$root/out"
    val dataSchema = writeLandedJson(
      byDay(bucketedWithLandId(dedup(df, key), ts)), outDir)
    compactLanded(df.sparkSession, outDir, dataSchema, compactDir)
  }

  /** Compaction pass over a landed batch=N/y=/m=/d=/h= JSON layout: read
    * every batch directory, rewrite as parquet partitioned by (y,m,d)
    * with one writer task per day — the small-file management step every
    * streaming landing needs (hour-level JSON appends compact into
    * day-level columnar files; downstream readers get partition pruning
    * plus parquet stats instead of thousands of tiny JSON objects).
    * Returns per-day counts read back from the compacted layout.
    */
  def compactLanded(spark: org.apache.spark.sql.SparkSession,
                    landedDir: String, dataSchema: StructType,
                    compactDir: String): DataFrame = {
    val landed = spark.read.schema(dataSchema).json(landedDir)
    byDay(landed)
      .write.options(graft.io.LocalFs.writeOptions).mode("overwrite")
      .partitionBy("y", "m", "d")
      .parquet(compactDir)
    spark.read.parquet(compactDir)
      .groupBy("y", "m", "d")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("y", "m", "d")
  }

  /** RIGHT-TO-BE-FORGOTTEN erasure (q_forget) — the GDPR/CCPA deletion
    * pass that completes the governance family (PII scrub finds direct
    * identifiers, k-anonymity measures quasi-identifiers, THIS actually
    * removes a data subject): land the events user-bucketed, then erase
    * every row belonging to the deterministic request set
    * (user_id ≡ 0 mod `victimMod`) by rewriting ONLY the buckets those
    * users live in. The census is read back from the POST-ERASURE
    * store — the oracle match proves the storage state, not the plan:
    * erasure was complete (no victim row survived) and exact (no
    * bystander row was lost).
    *
    * Scale shape: user-bucketed layout means a deletion request touches
    * |victims'-buckets| partitions, not the corpus; survivors = touched
    * buckets left-anti the victim list (broadcast — a deletion request
    * is human-scale); dynamic partition overwrite leaves untouched
    * buckets' files alone, and a bucket EMPTIED by the erasure (every
    * resident row belonged to victims) is dropped explicitly — dynamic
    * overwrite only rewrites partitions present in the output, so the
    * stale directory would otherwise survive (the [[graft.streaming
    * .StreamOps.upsertBatch]] emptied-day discipline). localCheckpoint
    * materializes the survivors BEFORE the overwrite deletes the files
    * they were read from. Idempotent: a replayed request finds no
    * victim rows and rewrites the same survivors.
    */
  def forgetUsers(events: DataFrame, victimMod: Long = 97L,
                  nBuckets: Int = 16): DataFrame = {
    val baseDir = graft.Scratch.dir("forget")
    // the census is localCheckpoint-materialized, so the scratch store
    // can be deleted EAGERLY — a long-lived session (bench rounds) must
    // not accumulate a table-sized copy and a shutdown hook per call
    try graft.CacheRegistry.trackCheckpoint(
      forgetUsersAt(events, victimMod, nBuckets, baseDir).localCheckpoint())
    finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(baseDir)): Unit
  }

  private[graft] def forgetUsersAt(events: DataFrame, victimMod: Long,
                                   nBuckets: Int, baseDir: String): DataFrame = {
    val spark = events.sparkSession
    landUserBucketed(events, nBuckets, baseDir)
    // localCheckpoint MATERIALIZES the pre-erasure census (a lazy frame
    // would re-list the store after the rewrite and report post-state)
    val before = graft.CacheRegistry.trackCheckpoint(
      spark.read.parquet(baseDir)
        .groupBy("event_type").agg(count(lit(1)).as("n_before"))
        .localCheckpoint())
    val victims = spark.read.parquet(baseDir)
      .filter(pmod(col("user_id"), lit(victimMod)) === 0)
      .select("user_id").distinct()
    eraseVictims(spark, baseDir, victims, nBuckets)
    forgetCensus(spark, baseDir, before)
  }

  private[graft] def landUserBucketed(events: DataFrame, nBuckets: Int,
                                      baseDir: String): Unit =
    events.withColumn("bkt", pmod(col("user_id"), lit(nBuckets.toLong))
        .cast("int"))
      .repartition(col("bkt"))
      .write.mode("overwrite").partitionBy("bkt").parquet(baseDir)

  /** One erasure application against a live user-bucketed store — the
    * unit of work a DELETION QUEUE applies per request batch: rewrite
    * only the victims' buckets (survivors anti-join), drop buckets the
    * erasure empties, leave everything else's files untouched.
    * Idempotent: re-applying a request finds no victim rows and
    * rewrites the same survivors. */
  private[graft] def eraseVictims(spark: org.apache.spark.sql.SparkSession,
                                  baseDir: String, victimIds: DataFrame,
                                  nBuckets: Int): Unit = {
    val base = spark.read.parquet(baseDir)
    val victims = victimIds.select("user_id").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // the touched-bucket list is request-sized — the documented
    // broadcast-scalar collect (same class as upsertBatch's day list)
    val touched = victims
      .withColumn("bkt", pmod(col("user_id"), lit(nBuckets.toLong))
        .cast("int"))
      .select("bkt").distinct().collect().map(_.getInt(0)).toSet
    if (touched.nonEmpty) {
      val touchedDf = {
        import spark.implicits._
        touched.toSeq.toDF("bkt")
      }
      val survivors = base
        .join(broadcast(touchedDf), Seq("bkt"), "left_semi")
        .join(broadcast(victims), Seq("user_id"), "left_anti")
        .repartition(col("bkt"))
        .localCheckpoint()
      survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bkt")
        .parquet(baseDir)
      val remaining = survivors.select("bkt").distinct()
        .collect().map(_.getInt(0)).toSet
      // write + census above are the checkpoint's only consumers (r18)
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .unpersistBacking(survivors)
      val emptied = touched -- remaining
      if (emptied.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(baseDir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        emptied.foreach(b => fs.delete(
          new org.apache.hadoop.fs.Path(s"$baseDir/bkt=$b"), true))
      }
    }
  }

  private[graft] def forgetCensus(spark: org.apache.spark.sql.SparkSession,
                                  baseDir: String,
                                  before: DataFrame): DataFrame = {
    val after = spark.read.parquet(baseDir)
      .groupBy("event_type").agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("event_type"), "left")
      .select(col("event_type"), col("n_before"),
        (col("n_before") - coalesce(col("n_after"), lit(0L)))
          .as("n_removed"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .orderBy("event_type")
  }
}
