package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StreamOps

/** The reference's raison d'être (consumer.py:133-155, 282-314): resume
  * from the checkpoint after a stop, and de-duplicate redelivered records —
  * asserted end-to-end against the landed files.
  */
class StreamingSpec extends SparkSpec {

  private def landed(outDir: String) =
    spark.read.schema(StreamOps.landedDataSchema).json(outDir)

  test("checkpointed landing: resume after stop + dedup of redelivered records") {
    val src = tempDir("src")
    val out = tempDir("out")
    val ck = tempDir("ck")

    // events sorted by time, split 60/40 with a 10% redelivered overlap
    val ev = Tables.events(spark, sf0001).orderBy("ts")
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
              col("user_id"), col("event_type"), col("value"), col("props"))
    val all = ev.collect()
    val cut = (all.length * 6) / 10
    val overlap = cut / 6
    val first = all.take(cut)
    val second = all.slice(cut - overlap, all.length) // redelivers `overlap` rows

    def writeBatch(rows: Array[org.apache.spark.sql.Row], name: String): Unit = {
      val rdd = spark.sparkContext.parallelize(rows.toSeq.map(r =>
        org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), // µs long
          r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5))))
      StreamOps.encodeRawTs(spark.createDataFrame(rdd, StreamOps.rawUsSchema))
        .coalesce(1).write.parquet(s"$src/$name")
      // the file source lists files, not subdirs — promote the part file
      val part = Files.list(Paths.get(s"$src/$name")).toArray
        .map(_.toString).find(_.endsWith(".parquet")).get
      Files.move(Paths.get(part), Paths.get(s"$src/$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/$name"))
    }

    writeBatch(first, "batch1")
    StreamOps.landStreamFromDir(spark, src, out, ck) // run 1: drains batch1
    val afterFirst = landed(out).count()
    assert(afterFirst === first.length.toLong)

    writeBatch(second, "batch2")
    StreamOps.landStreamFromDir(spark, src, out, ck) // run 2: resumes, only batch2
    val result = landed(out)
    val total = result.count()
    val distinctIds = result.select("event_id").distinct().count()

    // exactly-once: every event landed once, redelivered rows deduped
    assert(distinctIds === all.length.toLong, "some events never landed")
    assert(total === all.length.toLong,
      s"duplicates landed: $total rows vs ${all.length} distinct events")
  }

  test("partition layout: landed files live under batch=/y=/m=/d=/h= dirs") {
    val out = tempDir("out2")
    val ck = tempDir("ck2")
    // reuse the staged sf0.001 link for a tiny full run
    StreamOps.landStream(spark, sf0001, out, ck)
    val landedDf = landed(out)
    assert(landedDf.count() > 0)
    val dirs = Files.walk(Paths.get(out)).toArray.map(_.toString)
      .filterNot(_.contains("_spark_metadata"))
    assert(dirs.exists(_.matches(".*/batch=\\d+/y=\\d{4}$")),
      s"expected batch=/y= partition dirs, got: ${dirs.take(5).mkString(",")}")
  }

  test("historical-store dedup drops a later batch's duplicate of an earlier batch's doc") {
    val src = tempDir("hd_src")
    val out = tempDir("hd_out")
    val store = tempDir("hd_store")
    val ck = tempDir("hd_ck")
    val sp = spark
    import sp.implicits._

    def writeDocs(rows: Seq[(Long, String)], name: String, mtime: Long): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/$name")
      val part = Files.list(Paths.get(s"$src/$name")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.move(Paths.get(part), Paths.get(s"$src/$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/$name"))
      Files.setLastModifiedTime(Paths.get(s"$src/$name.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }

    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs today"
    val textC = "how vexingly quick daft zebras jump around here"
    // run 1: batch with docs 1 (A) and 2 (B)
    writeDocs(Seq((1L, textA), (2L, textB)), "b1", 1000000000000L)
    StreamOps.histDedupStreamFromDir(spark, src, out, store, ck)
    // run 2 (restart from checkpoint): doc 3 duplicates doc 1's content
    // ACROSS the batch/run boundary; doc 4 is fresh; doc 5 is too short
    // to shingle (null fingerprint) and must always pass through
    writeDocs(Seq((3L, textA), (4L, textC), (5L, "tiny")), "b2", 1000000060000L)
    StreamOps.histDedupStreamFromDir(spark, src, out, store, ck)

    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(1L, 2L, 4L, 5L),
      s"expected cross-run duplicate doc 3 dropped, got $survivors")
  }

  test("chunk-store upsert REPLACES a re-delivered doc's chunks and flags store dups") {
    val store = tempDir("cu_store")
    val sp = spark
    import sp.implicits._
    // 10 tokens, size=4, stride=3 → doc 1 has 4 chunks
    val tenTok = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    StreamOps.chunkUpsertBatch(
      Seq((1L, tenTok), (2L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      store, size = 4, stride = 3)
    val after1 = spark.read.parquet(store)
    assert(after1.filter(col("doc_id") === 1L).count() === 4)
    assert(after1.filter(col("dup_store") === 1).count() === 0,
      "first batch has an empty store — nothing can be a store dup")

    // batch 2: doc 1 re-delivered SHORTER (1 chunk) — must REPLACE all 4
    // old chunks, no stale tail; doc 3 copies doc 2's content — every
    // chunk is already in the store under another doc → flagged
    StreamOps.chunkUpsertBatch(
      Seq((1L, "u0 u1 u2"), (3L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      store, size = 4, stride = 3)
    val after2 = spark.read.parquet(store)
    val doc1 = after2.filter(col("doc_id") === 1L).collect()
    assert(doc1.length === 1,
      s"revision must replace, not append: doc 1 has ${doc1.length} chunks")
    assert(doc1.head.getAs[Long]("n_tok") === 3L)
    val doc3 = after2.filter(col("doc_id") === 3L).collect()
    assert(doc3.nonEmpty && doc3.forall(_.getAs[Int]("dup_store") === 1),
      "doc 3's chunks duplicate doc 2's store content and must be flagged")
    // untouched doc 2 still intact (starts 0 and 3 → 2 chunks), unflagged
    assert(after2.filter(col("doc_id") === 2L && col("dup_store") === 0).count() === 2)
  }

  test("streaming index upsert freezes codebooks and replaces re-delivered ids (one live row each)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val dir = tempDir("idx_upsert")
    operators.Similarity.buildIvfPqIndex(emb.filter(col("vec_id") >= 100), dir)
    def cb(): Seq[String] = spark.read.parquet(s"$dir/cb1")
      .unionByName(spark.read.parquet(s"$dir/cb2"))
      .collect().map(_.toString).sorted.toSeq
    val before = cb()
    // the streamIndexUpsert loop body, driven directly: two range batches
    // then a re-delivery of every third streamed id
    val batches = Seq(
      emb.filter(col("vec_id") < 50),
      emb.filter(col("vec_id") >= 50 && col("vec_id") < 100),
      emb.filter(col("vec_id") < 100 && col("vec_id") % 3 === 0))
    batches.zipWithIndex.foreach { case (b, i) =>
      val gen = i + 1L
      operators.Similarity.deleteFromIvfPqIndex(b.select("vec_id"), dir,
        uptoGen = gen - 1)
      operators.Similarity.appendToIvfPqIndex(b, dir, gen)
    }
    assert(cb() === before, "stream upsert mutated a codebook artifact")
    val cells = spark.read.parquet(s"$dir/cells")
    val tombs = spark.read.parquet(s"$dir/tombstones")
      .select(col("vec_id").as("tv"), col("upto_gen"))
    val live = cells.join(tombs,
      col("vec_id") === col("tv") && col("gen") <= col("upto_gen"),
      "left_anti").filter(col("vec_id") < 100)
    // replace, not append: every streamed id has exactly one live row
    assert(live.count() === 100)
    assert(live.groupBy("vec_id").count().filter(col("count") =!= 1).count() === 0,
      "a streamed id has more than one live cells row")
    // the re-delivered ids live at the re-delivery generation
    assert(live.filter(col("vec_id") % 3 === 0 && col("gen") =!= 3).count() === 0,
      "a re-delivered id still serves an earlier generation")
    CacheRegistry.release()
  }

  test("streaming doc-tier upsert freezes codebooks and replaces re-delivered docs") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
    val dir = tempDir("doc_upsert")
    operators.Similarity.buildIvfPqIndex(
      operators.Similarity.docVectors(docs.filter(col("doc_id") >= 100)), dir)
    def cb(): Seq[String] = spark.read.parquet(s"$dir/cb1")
      .unionByName(spark.read.parquet(s"$dir/cb2"))
      .collect().map(_.toString).sorted.toSeq
    val before = cb()
    // the streamDocFresh loop body at pooled granularity: two doc-range
    // batches then a re-delivery of every third streamed doc (same text)
    val batches = Seq(
      docs.filter(col("doc_id") < 50),
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
      docs.filter(col("doc_id") < 100 && col("doc_id") % 3 === 0))
    batches.zipWithIndex.foreach { case (b, i) =>
      val rows = operators.Similarity.docVectors(b)
      val gen = i + 1L
      operators.Similarity.deleteFromIvfPqIndex(rows.select("vec_id"), dir,
        uptoGen = gen - 1)
      operators.Similarity.appendToIvfPqIndex(rows, dir, gen)
    }
    assert(cb() === before, "doc-tier stream upsert mutated a codebook artifact")
    val cells = spark.read.parquet(s"$dir/cells")
    val tombs = spark.read.parquet(s"$dir/tombstones")
      .select(col("vec_id").as("tv"), col("upto_gen"))
    val live = cells.join(tombs,
      col("vec_id") === col("tv") && col("gen") <= col("upto_gen"),
      "left_anti").filter(col("vec_id") < 100)
    // replace, not append: every streamed doc has exactly one live row
    assert(live.count() === 100)
    assert(live.groupBy("vec_id").count().filter(col("count") =!= 1).count() === 0,
      "a streamed doc has more than one live pooled-cells row")
    assert(live.filter(col("vec_id") % 3 === 0 && col("gen") =!= 3).count() === 0,
      "a re-delivered doc still serves an earlier generation")
    CacheRegistry.release()
  }

  test("streaming RAG freshness: streamed docs are retrievable from the updated index") {
    val hits = StreamOps.streamRagFresh(spark, sf0001).collect()
    CacheRegistry.release()
    assert(hits.nonEmpty)
    // the query docs themselves arrived via the stream (doc_id < splitDoc)
    assert(hits.forall(_.getAs[Long]("q_doc_id") < 100))
    // freshness: the serve must surface STREAMED chunks, not just the
    // offline-built slice — at least one retrieved neighbor is a
    // streamed document's chunk
    assert(hits.exists(_.getAs[Long]("doc_id") < 100),
      "no streamed doc retrievable — the upsert loop left the index stale")
    hits.groupBy(r =>
      (r.getAs[Long]("q_doc_id"), r.getAs[Long]("q_chunk_id"))).foreach {
      case (q, rs) =>
        val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
        assert(ranks === (1L to ranks.length).toSeq, s"query $q: ranks not dense")
    }
  }

  test("streaming chunk-embed census is invariant to the batch slicing") {
    // chunk → embed → assign is stateless per document, so slicing the
    // corpus into 2 vs 5 micro-batches cannot change the drained census
    // (the invariant that lets the standalone SQL oracle cover every
    // batch count)
    val a = StreamOps.streamChunkEmbed(spark, sf0001, nBatches = 2).collect().toSeq
    val b = StreamOps.streamChunkEmbed(spark, sf0001, nBatches = 5).collect().toSeq
    assert(a.nonEmpty && a === b,
      s"chunk-embed census changed with batch slicing: ${a.size} vs ${b.size} rows")
  }

  test("historical-store dedup survivors are invariant to the batch slicing") {
    // the min-doc_id-per-fingerprint survivor set must not depend on HOW
    // the stream is sliced into micro-batches (range order is the only
    // requirement) — the invariant that lets one SQL oracle cover every
    // batch count
    val a = StreamOps.streamHistDedup(spark, sf0001, nBatches = 2).collect().toSeq
    val b = StreamOps.streamHistDedup(spark, sf0001, nBatches = 5).collect().toSeq
    assert(a.nonEmpty && a === b,
      s"survivor set changed with batch slicing: ${a.size} vs ${b.size} rows")
  }

  test("incremental near-dedup drops cross-batch near-dups but not intra-batch ones") {
    val src = tempDir("nd_src")
    val out = tempDir("nd_out")
    val store = tempDir("nd_store")
    val ck = tempDir("nd_ck")
    val sp = spark
    import sp.implicits._

    def writeDocs(rows: Seq[(Long, String)], name: String, mtime: Long): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/$name")
      val part = Files.list(Paths.get(s"$src/$name")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.move(Paths.get(part), Paths.get(s"$src/$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$src/$name"))
      Files.setLastModifiedTime(Paths.get(s"$src/$name.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }

    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs today"
    val textC = "how vexingly quick daft zebras jump around here"
    writeDocs(Seq((1L, textA), (2L, textB)), "b1", 1000000000000L)
    writeDocs(Seq((3L, textA), (5L, textC), (6L, textC)), "b2", 1000000060000L)
    val q = spark.readStream.schema(StreamOps.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        StreamOps.nearDedupBatch(batch, batchId, store, out)
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val survivors = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // doc 3 duplicates batch-1's doc 1 → dropped; docs 5 and 6 duplicate
    // each other INSIDE batch 2 → both kept (intra-batch is the batch
    // near-dup pass's concern, not the incremental store's)
    assert(survivors === Set(1L, 2L, 5L, 6L),
      s"expected cross-batch drop only, got $survivors")
  }

  test("streaming approx sliding distinct tracks the exact batch answer within the rsd bound") {
    val rsd = 0.02
    val approx = StreamOps.streamSlidingDistinct(spark, sf0001, 12, 6, rsd)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.operators.Events
      .slidingDistinctUsers(Tables.events(spark, sf0001), 12, 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // same windows, exact n_events per window (the count agg is not
    // approximated), and the HLL++ estimate within 5·rsd of the exact
    // distinct — a generous multiple of the one-sigma bound, so the
    // test is deterministic-stable while still catching a broken sketch
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (w, (nUsers, nEvents)) =>
      val (est, gotEvents) = approx(w)
      assert(gotEvents === nEvents, s"window $w: n_events diverged")
      val relErr = math.abs(est - nUsers).toDouble / math.max(nUsers, 1L)
      assert(relErr <= 5 * rsd,
        f"window $w: estimate $est vs exact $nUsers (rel err $relErr%.4f > ${5 * rsd}%.2f)")
    }
  }

  test("RocksDB state store yields identical results for agg, custom-state, and join state") {
    def collectAll() = (
      StreamOps.streamSessionize(spark, sf0001, 30).collect().toSeq,
      StreamOps.streamUserState(spark, sf0001).collect().toSeq,
      StreamOps.streamIntervalJoin(spark, sf0001).collect().toSeq)
    // default (heap-backed) provider first, then the same three stateful
    // operator classes — windowed agg, mapGroupsWithState, stream-stream
    // join — routed through RocksDB via the config seam
    val (sessH, stateH, joinH) = collectAll()
    StreamOps.configureStateStore(spark, Some("rocksdb"))
    try {
      val (sessR, stateR, joinR) = collectAll()
      assert(sessR === sessH, "sessionize differs under RocksDB")
      assert(stateR === stateH, "mapGroupsWithState differs under RocksDB")
      assert(joinR === joinH, "interval join differs under RocksDB")
      assert(sessR.nonEmpty && stateR.nonEmpty && joinR.nonEmpty)
    } finally StreamOps.configureStateStore(spark, Some("hdfs"))
  }

  test("crash between sink write and offset commit does not duplicate data (T6)") {
    val src = tempDir("src3")
    val out = tempDir("out3")
    val ck = tempDir("ck3")
    // stage the sf0.001 events as the stream
    val staged = StreamOps.stageStreamDir(sf0001)
    Files.copy(Paths.get(staged, "events.parquet"), Paths.get(src, "events.parquet"))

    // run 1: the batch lands, THEN the "process" dies before the offset
    // commit — the reference's duplicate window (consumer.py:298-308)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = StreamOps.dedupedEvents(spark, src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        StreamOps.landBatch(batch, out, batchId)
        if (!crashed.getAndSet(true))
          throw new RuntimeException("injected crash after sink write")
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(landed(out).count() > 0, "the batch should have landed before the crash")

    // run 2: restart from the checkpoint — the uncommitted batch replays
    // and its idempotent overwrite replaces, not duplicates, the output
    StreamOps.landStreamFromDir(spark, src, out, ck)
    val result = landed(out)
    val total = result.count()
    val distinctIds = result.select("event_id").distinct().count()
    assert(total === distinctIds,
      s"replayed batch duplicated rows: $total landed vs $distinctIds distinct")
    val expected = Tables.events(spark, sf0001).count()
    assert(distinctIds === expected)
  }

  test("streaming chunker equals the batch chunker regardless of batch slicing") {
    // chunks are doc-local, so ANY doc partitioning into micro-batches
    // must reproduce the batch result exactly — checked at two slicings
    val docs = Tables.documents(spark, sf0001)
    val batch = graft.operators.TextAnalysis.chunkDocuments(docs, 64, 48)
      .collect().toSeq
    Seq(2, 5).foreach { n =>
      val streamed = StreamOps.streamChunks(spark, sf0001, nBatches = n)
        .collect().toSeq
      assert(streamed === batch,
        s"streamed chunks at $n batches diverged from the batch chunker")
    }
  }

  test("outer interval join: watermark flush emits unmatched purchases exactly once (= batch twin)") {
    // The far-future sentinels inside streamIntervalJoinOuter are
    // finite-replay flush machinery only — a live unbounded stream's
    // watermark advances by itself and needs none (see the scaladoc, and
    // EXPLAINS' state-boundedness probe: outer join state == inner's).
    val got = StreamOps.streamIntervalJoinOuter(spark, sf0001).collect()
    val ev = Tables.events(spark, sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
              col("ts").as("v_ts"))
    val want = p.join(v,
        expr("p_user = v_user AND v_ts >= p_ts - interval 1 hour AND v_ts <= p_ts"),
        "left")
      .select(col("p_id"), coalesce(col("v_id"), lit(-1L)).as("v_id"),
              coalesce(unix_micros(col("p_ts")) - unix_micros(col("v_ts")),
                lit(-1L)).as("lag_us"))
      .orderBy("p_id", "v_id").collect()
    assert(got.toSeq === want.toSeq,
      s"streamed outer join (${got.length} rows) diverged from the batch twin (${want.length})")
    // the outer path must actually exercise the flush: at least one
    // purchase with no preceding-hour view
    assert(got.exists(_.getLong(1) == -1L),
      "no unmatched purchase emitted — the outer flush proved nothing")
  }

  test("lexical upsert REPLACES a re-delivered document's postings, never duplicates") {
    val store = tempDir("lexstore")
    val docs = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < 40).select("doc_id", "text")
    StreamOps.lexicalUpsertBatch(docs, store)
    // re-deliver half the documents unchanged — the store must be
    // byte-for-byte the single-pass posting table afterwards
    StreamOps.lexicalUpsertBatch(docs.filter(col("doc_id") < 20), store)
    def posting(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "term", "tf").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
          r.getAs[Long]("tf"))).toSet
    val got = posting(spark.read.parquet(store))
    val want = posting(graft.operators.TextAnalysis.docPostings(docs))
    assert(got === want,
      "re-delivered postings duplicated or dropped in the store")
  }

  test("scd2 upsert replays idempotently: rewind-and-reapply makes a crashed batch a no-op") {
    val store = tempDir("scd2store")
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"))
    val mid = ev.agg(expr("min(us) + (max(us) - min(us)) DIV 2"))
      .head().getLong(0)
    def versions() = spark.read.parquet(store)
      .select("user_id", "state", "valid_from_us", "valid_to_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val (b1, b2) = (ev.filter(col("us") < mid), ev.filter(col("us") >= mid))
    StreamOps.scd2UpsertBatch(b1, store)
    StreamOps.scd2UpsertBatch(b2, store)
    val once = versions()
    // a crash after the store write but before the offset commit replays
    // the batch — the rewind must make the second application a no-op
    StreamOps.scd2UpsertBatch(b2, store)
    assert(versions() === once,
      "replaying the final batch changed the store — rewind is broken")
    // and the two-batch store equals the one-shot batch build
    val batchScd2 = graft.operators.Events.scd2(Tables.events(spark, sf0001))
      .select("user_id", "state", "valid_from_us", "valid_to_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(once === batchScd2,
      "incrementally-maintained dimension diverged from the batch build")
  }

  test("streaming positional upsert serves the phrase workload identically to inline") {
    val docs = Tables.documents(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("n_phrase"))).toSet
    // the staged replay re-delivers every third doc — a duplicate
    // position row would double its phrase counts and break equality
    assert(rows(StreamOps.streamPhraseFresh(spark, sf0001)) ===
      rows(graft.operators.TextAnalysis.phraseTopK(docs)),
      "live-maintained positional store diverged from the offline build")
  }

  test("streaming anomaly census equals the batch MAD scorer (additive counts law)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("rk"),
        r.getAs[Int]("y"), r.getAs[Int]("m"), r.getAs[Int]("d"),
        r.getAs[Int]("h"), r.getAs[Long]("n_events"),
        r.getAs[Double]("med"), r.getAs[Double]("mad"),
        r.getAs[Double]("rz"), r.getAs[Boolean]("is_anomaly"))
    }.toSet
    val streamed = rows(StreamOps.streamAnomalyMad(spark, sf0001))
    val batch = rows(graft.operators.Events.anomalyMad(
      Tables.events(spark, sf0001)))
    assert(streamed === batch,
      "drained per-batch bucket counts must merge to the batch census")
  }

  test("streaming PII census equals the batch scrub (per-language additive merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_docs_pii"), r.getAs[Long]("n_emails"),
        r.getAs[Long]("n_ips"), r.getAs[Long]("n_phones"),
        r.getAs[Long]("chars_redacted"))
    }.toSet
    assert(rows(StreamOps.streamPiiCensus(spark, sf0001)) ===
      rows(graft.operators.TextAnalysis.piiRedactCensus(
        Tables.documents(spark, sf0001))),
      "drained per-batch PII censuses must merge to the batch scrub")
  }

  test("streaming bottom-k sketch merge equals the batch sample (mergeability law)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("lang"), r.getAs[Long]("rk"),
        r.getAs[Long]("doc_id"), r.getAs[String]("h"))
    }.toSet
    assert(rows(StreamOps.streamBottomK(spark, sf0001)) ===
      rows(graft.operators.TextAnalysis.bottomKSample(
        Tables.documents(spark, sf0001))),
      "merged per-batch bottom-k sketches must equal the corpus sample")
  }

  test("streaming deletion queue equals the bulk erasure (incremental request drain)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n_before"),
        r.getAs[Long]("n_removed"), r.getAs[Long]("n_after"))
    }.toSet
    assert(rows(StreamOps.streamForget(spark, sf0001)) ===
      rows(graft.operators.Landing.forgetUsers(
        Tables.events(spark, sf0001))),
      "a victim set drained in request batches must leave the bulk-erasure store")
  }

  test("streaming chi2 audit equals the batch census (additive cell merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("n_obs"), r.getAs[Double]("expected"),
        r.getAs[Double]("contrib"))
    }.toSet
    assert(rows(StreamOps.streamChi2(spark, sf0001)) ===
      rows(graft.operators.Pipeline.chi2Independence(
        Tables.documents(spark, sf0001))),
      "drained per-batch contingency cells must merge to the batch audit")
  }

  test("streaming k-anonymity monitor equals the batch census (additive class merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("band"), r.getAs[Long]("n_classes"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("min_k"),
        r.getAs[Long]("max_k"), r.getAs[Double]("row_share"))
    }.toSet
    assert(rows(StreamOps.streamKanon(spark, sf0001)) ===
      rows(graft.operators.Pipeline.kAnonymityCensus(
        Tables.customer(spark, sf0001))),
      "drained per-batch QI class counts must merge to the batch census")
  }

  test("streaming RI monitor equals the batch audit's events edge") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("constraint_name"), r.getAs[Long]("n_child"),
        r.getAs[Long]("n_orphan"), r.getAs[Long]("n_orphan_keys"),
        r.getAs[Int]("is_ok"))
    }.toSet
    val batchEdge = graft.operators.Pipeline.riAudit(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.part(spark, sf0001), Tables.supplier(spark, sf0001),
      Tables.customer(spark, sf0001), Tables.nation(spark, sf0001),
      Tables.region(spark, sf0001), Tables.events(spark, sf0001))
      .filter(org.apache.spark.sql.functions.col("constraint_name") ===
        "events.user_id -> customer")
    assert(rows(StreamOps.streamRiMonitor(spark, sf0001)) === rows(batchEdge),
      "drained per-batch FK key counts must merge to the batch audit edge")
  }

  test("streaming forecast backtest equals the batch backtest (additive count merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n_backtests"),
        r.getAs[Double]("mape"), r.getAs[Double]("mae"))
    }.toSet
    assert(rows(StreamOps.streamForecast(spark, sf0001)) ===
      rows(graft.operators.Events.forecastNaive(
        Tables.events(spark, sf0001))),
      "drained per-batch hourly counts must merge to the batch backtest")
  }

  test("streaming conformal calibration equals the batch census (additive count merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("n_cal"),
        r.getAs[Long]("n_test"), r.getAs[Double]("qhat"),
        r.getAs[Long]("n_covered"), r.getAs[Double]("coverage"))
    }.toSet
    assert(rows(StreamOps.streamConformal(spark, sf0001)) ===
      rows(graft.operators.Events.conformalForecast(
        Tables.events(spark, sf0001))),
      "drained per-batch hourly counts must merge to the batch calibration")
  }

  test("streaming profile equals the batch ANALYZE (exact moment + set-union merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("col_name"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"),
        Option(r.getAs[java.lang.Double]("min_num")),
        Option(r.getAs[java.lang.Double]("max_num")),
        Option(r.getAs[java.lang.Double]("avg_num")),
        Option(r.getAs[java.lang.Long]("min_len")),
        Option(r.getAs[java.lang.Long]("max_len")))
    }.toSet
    assert(rows(StreamOps.streamProfile(spark, sf0001, exactDistincts = true)) ===
      rows(graft.operators.Pipeline.profileTable(
        Tables.lineitem(spark, sf0001))),
      "merged per-batch moments + distinct sets must equal the one-pass profile")
  }

  test("sketch-tier streaming profile: exact moments, bounded-error distincts, sketch-sized state") {
    val root = Scratch.dir("sketch_profile_test")
    val got = StreamOps.streamProfileAt(spark, sf0001, root,
        exactDistincts = false)
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    val exact = graft.operators.Pipeline.profileTable(
        Tables.lineitem(spark, sf0001))
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    assert(got.keySet === exact.keySet)
    exact.foreach { case (c, e) =>
      val g = got(c)
      // every additive moment is EXACT — only the distinct stat is approximate
      assert(g.getAs[Long]("n_rows") === e.getAs[Long]("n_rows"))
      assert(g.getAs[Long]("n_nulls") === e.getAs[Long]("n_nulls"))
      assert(Option(g.getAs[java.lang.Double]("min_num")) ===
        Option(e.getAs[java.lang.Double]("min_num")))
      assert(Option(g.getAs[java.lang.Double]("max_num")) ===
        Option(e.getAs[java.lang.Double]("max_num")))
      assert(Option(g.getAs[java.lang.Double]("avg_num")) ===
        Option(e.getAs[java.lang.Double]("avg_num")))
      // HLL at lgK=12: ±1.6% standard error — lock a 3-sigma band
      val (gd, ed) = (g.getAs[Long]("n_distinct"), e.getAs[Long]("n_distinct"))
      assert(math.abs(gd - ed) <= math.max(1L, (0.05 * ed).toLong),
        s"$c: sketch estimate $gd vs exact $ed beyond the HLL error band")
    }
    // the scale claim as code: accumulated distinct state is ONE sketch
    // row per batch and sketch-sized in bytes (the exact tier's value
    // store is cardinality-sized — corpus-shaped at 100 TB)
    val dvals = spark.read.parquet(s"$root/store/dvals")
    assert(dvals.count() === 3L, "one sketch row per micro-batch")
    val stateBytes = org.apache.commons.io.FileUtils.sizeOfDirectory(
      new java.io.File(s"$root/store/dvals"))
    assert(stateBytes < 11L * 4096 * 3 + 65536,
      s"sketch state $stateBytes bytes — not sketch-sized")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("streaming MV maintenance equals the batch refresh cycle (count/sum merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[Int]("day"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))
    }.toSet
    assert(rows(StreamOps.streamMv(spark, sf0001)) ===
      rows(graft.operators.Events.mvIncremental(spark,
        Tables.events(spark, sf0001))),
      "drained per-batch MV partials must merge to the batch-refreshed view")
  }

  test("streaming join-view maintenance: delta joins union to the one-shot join exactly once") {
    val view = StreamOps.streamMvJoin(spark, sf0001).collect()
    val li = Tables.lineitem(spark, sf0001)
    val expect = li
      .join(Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber").as("lnum"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("l_extendedprice").cast("decimal(18,2)").cast("double")
          .as("price"))
      .orderBy("o_orderkey", "lnum", "price").collect()
    assert(view.map(_.toString).toSeq === expect.map(_.toString).toSeq,
      "accumulated view deltas must equal the one-shot join")
    // exactly-once: the view carries every MATCHED line exactly once
    // (sf0.001 plants orphan lineitem rows — the join correctly drops
    // them, so the baseline is the one-shot join's own count)
    assert(view.length === expect.length)
    assert(view.map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
      .distinct.length === view.length,
      "a (order, line, price) key joined more than once")
  }

  test("mv-join store layouts agree: bucketed tables and plain batch " +
       "dirs maintain the identical view") {
    // the layout is a deployment knob (bucketed = cluster-right, plain =
    // local-fast; ClusterProbe measures the tradeoff) — it must never
    // be a semantics knob
    val o = Tables.orders(spark, sf0001)
    val l = Tables.lineitem(spark, sf0001)
    val bucketed = StreamOps
      .streamMvJoinFrames(spark, o, l, 3, bucketedStores = Some(true))
      .collect().map(_.toString).toSeq
    val plain = StreamOps
      .streamMvJoinFrames(spark, o, l, 3, bucketedStores = Some(false))
      .collect().map(_.toString).toSeq
    assert(bucketed === plain)
    // the deployment-aware default: single-JVM masters (this suite's)
    // resolve to plain batch-dir stores — every single-box probe
    // (local[32], local-cluster at 3 scales) measured the bucketed
    // write overhead losing where exchange bytes are loopback-cheap;
    // non-local[...] masters keep the bucketed layout (volume law:
    // one pass over facts vs history x (n-1)/2 per side on the wire)
    assert(!StreamOps.defaultBucketedStores(spark),
      s"local master ${spark.sparkContext.master} must default to plain stores")
  }

  test("streaming binary-code upsert: re-delivery replaces, serve equals inline") {
    val emb = Tables.embeddings(spark, sf0001)
    val live = StreamOps.streamBinaryFresh(spark, sf0001).collect()
    val inline0 = graft.operators.Similarity
      .hammingRerankSearch(emb, 20, 10, 50).collect()
    assert(live.map(_.toString).toSeq === inline0.map(_.toString).toSeq,
      "streamed code maintenance must serve identically to the one-shot build")
    // replace-not-duplicate, proven on the store itself: two range
    // batches then a full re-delivery of every third id leave exactly
    // one code row per vector
    val dir = Scratch.dir("binstore")
    StreamOps.binaryUpsertBatch(emb.filter(col("vec_id") < 200), dir)
    StreamOps.binaryUpsertBatch(emb.filter(col("vec_id") >= 200), dir)
    StreamOps.binaryUpsertBatch(emb.filter(col("vec_id") % 3 === 0), dir)
    val store = spark.read.parquet(dir)
    assert(store.count() === emb.count(), "one live code row per vector")
    assert(store.select("vec_id").distinct().count() === emb.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("streaming LTV equals the batch cohort curve (additive user-day partials)") {
    val live = StreamOps.streamLtv(spark, sf0001).collect()
    val batch = graft.operators.Events.ltvCohorts(
      Tables.events(spark, sf0001)).collect()
    assert(live.map(_.toString).toSeq === batch.map(_.toString).toSeq,
      "drained user-day partials must assemble to the batch LTV curve exactly")
  }

  test("streaming A/B monitor equals the batch read-out (additive user partials)") {
    val live = StreamOps.streamAb(spark, sf0001).collect().head
    val batch = graft.operators.Experiment.abMetrics(
      Tables.events(spark, sf0001)).collect().head
    assert(live.toString === batch.toString,
      "drained per-user partials must merge to the batch z/t read-out exactly")
  }

  test("streaming DP release equals the batch release (additive cells, release-time noise)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("event_type"), r.getAs[String]("day"),
        r.getAs[Long]("n_true"), r.getAs[Double]("noise"),
        r.getAs[Long]("n_released"))
    }.toSet
    assert(rows(StreamOps.streamDpRelease(spark, sf0001)) ===
      rows(graft.operators.Pipeline.dpCountRelease(
        Tables.events(spark, sf0001))),
      "drained per-batch cell counts + one release-time draw must equal the batch release")
  }

  test("streaming percentiles: within one bin width of the exact quantiles") {
    val got = StreamOps.streamPercentiles(spark, sf0001).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Double]("p")) ->
        r.getAs[Double]("est")).toMap
    // the estimator's crossing bin contains the ceil(p*N)-th order
    // statistic, so the honest bound is one bin width around THAT
    // value (the interpolated quantile can sit a sparse-tail gap away)
    val byType = Tables.events(spark, sf0001)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getDouble(1)).sorted }
    assert(got.keySet === byType.keySet.flatMap(t =>
      Seq(0.5, 0.95, 0.99).map(p => (t, p))))
    got.foreach { case ((t, p), est) =>
      val vs = byType(t)
      val k = math.min(vs.length - 1, math.ceil(p * vs.length).toInt - 1)
      assert(math.abs(est - vs(k)) <= 4.0,
        s"($t,$p): binned estimate $est vs order statistic ${vs(k)} " +
          "beyond one bin") }
  }

  test("streaming drift monitor equals the batch divergence (additive tf merge)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[String]("lang"), r.getAs[Long]("n_terms"),
        r.getAs[Long]("n_tokens_a"), r.getAs[Long]("n_tokens_b"),
        r.getAs[Double]("kl_ab"), r.getAs[Double]("kl_ba"),
        r.getAs[Double]("js"))
    }.toSet
    assert(rows(StreamOps.streamDriftMonitor(spark, sf0001)) ===
      rows(graft.operators.Pipeline.distShift(
        Tables.documents(spark, sf0001))),
      "drained per-batch tf censuses must merge to the batch divergence")
  }
}
