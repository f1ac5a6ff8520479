package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorMath._

/** Similarity search over the `embeddings` table (SURVEY J5/F10; driver
  * north-star "similarity search: ANN over an embedding column").
  *
  * Two paths, as a production pipeline would ship them:
  *
  *  - [[bruteForceTopK]] — the exact baseline: broadcast a small query
  *    set, one streaming pass over all candidates, bounded top-k
  *    aggregation. Linear scan, but the *right* linear scan: at 100 TB the
  *    scan parallelizes over candidate partitions and the shuffle carries
  *    only k rows per partition per query (TopKAgg partial aggregation),
  *    not the |Q|·|C| pair stream a window-function top-k would shuffle.
  *
  *  - [[lshAnnTopK]] — the scale path: L independent random-hyperplane
  *    LSH tables; vectors meet only inside a (table, bucket) cell, so the
  *    join is a hash shuffle on the cell key and the pair explosion is
  *    bounded by cell size. Hyperplanes are seeded-deterministic, so the
  *    output is stable run-to-run — deterministic enough that the full
  *    census is DuckDB-oracled (SparkEntry.lshOracleSql inlines the
  *    hyperplane constants as SQL literals); recall vs the exact baseline
  *    is additionally bounded in the scalatest suite.
  */
object Similarity {

  /** Quantize to 6 decimals via floor(x·1e6 + 0.5)/1e6 — the ONE rounding
    * law for every value that feeds further cross-engine arithmetic
    * (codebook means, PQ residuals). Unlike each engine's round() —
    * Spark rounds the exact binary expansion through BigDecimal, DuckDB
    * rounds the double product — this is three IEEE-754 ops both engines
    * execute bit-identically, so the quantized value can NEVER diverge,
    * not just "didn't diverge on the corpora measured". Same device as
    * the SQ8 code rounding in [[sq8Base]]. (Trailing DISPLAY rounds on
    * already-final sims/distances keep round(): nothing downstream
    * amplifies them.)
    */
  private[operators] def quant6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Exact cosine top-k neighbors for each query vector (vec_id < nQueries).
    * Queries are broadcast with precomputed norms; candidates stream.
    */
  /** Common base: cast to double[] once, precompute norms, and spread the
    * single-file scan across cores (same rationale as NearDup.shingleSets).
    */
  private def withNorms(embeddings: DataFrame): DataFrame =
    embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))

  /** The ONE ranked-top-k emission every search in this object shares:
    * bounded TopKAgg partial aggregation per query (TopKAgg keeps the
    * HIGHEST `s`, so distance callers negate on the way in), exploded to
    * (query_id, rank, neighbor_id, <score>) with `emit` restoring the
    * caller's score orientation. A single implementation so the
    * rank/tie-break/rounding contract can never drift between the exact,
    * LSH, IVF, PQ, and composed searches.
    */
  private[operators] def rankedTopK(scored: DataFrame, k: Int, out: String,
                                    emit: Column => Column = identity): DataFrame = {
    val topk = topK(k)
    scored.groupBy("query_id")
      .agg(topk(col("s"), col("cand_id")).as("nbrs"))
      .select(col("query_id"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
              col("nbr.id").as("neighbor_id"),
              round(emit(col("nbr.score")), 6).as(out))
      .orderBy("query_id", "rank")
  }

  /** Each query's `nprobe` nearest codebook cells under the same
    * (score, clabel) order the assignment argmin uses — at nprobe=1 this
    * degenerates to exactly the query's own assigned cell. `queries`
    * must carry (query_id, q_emb); extra columns ride through.
    */
  private def nearestCells(queries: DataFrame, cents: DataFrame,
                           nprobe: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("score"), col("clabel"))
    queries.crossJoin(broadcast(cents))
      .withColumn("score", cellScore(col("q_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nprobe)
  }

  def bruteForceTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = withNorms(embeddings.select("vec_id", "embedding"))
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
              col("nrm").as("q_nrm"))
    val scored = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("s"))
    rankedTopK(scored, k, "sim")
  }

  /** Exact squared-L2 ground truth for ANN evaluation: brute-force d2
    * top-k per query with the same (|q|² − 2 q·v) + |v|² grouping as
    * [[exactRerank]], emitted through the shared [[rankedTopK]]
    * rank/tie-break contract. Same scale shape as [[bruteForceTopK]]:
    * broadcast queries, one candidate scan, bounded partial top-k.
    */
  def exactL2TopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val vecs = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val queries = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val scored = vecs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (-((dot(col("q_emb"), col("q_emb"))
            - lit(2.0) * dot(col("q_emb"), col("emb")))
           + dot(col("emb"), col("emb")))).as("s"))
    rankedTopK(scored, k, "d2", sc => -sc)
  }

  /** Recall@k of the IVF-PQ ADC search against the exact-L2 ground truth
    * — the evaluation every production ANN deployment runs before (and
    * while) trusting an index. Per query: how many of the true k nearest
    * survive cell probing + product quantization. Both sides share the
    * suite's rank/tie-break contract, so the measurement is of the
    * INDEX, not of rank-order noise. Scale: the expensive inputs are the
    * two searches themselves (each bounded as documented on its
    * operator); the comparison joins two k·|Q|-row frames — negligible
    * at any corpus size, so recall evaluation costs one extra exact scan
    * over the corpus, which is exactly the price of ground truth.
    */
  def annRecall(embeddings: DataFrame, nQueries: Int = 20, k: Int = 10,
                nprobe: Int = 2, trainIters: Int = 2): DataFrame = {
    val ann = ivfPqSearch(embeddings, nQueries, k, nprobe, trainIters)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val truth = exactL2TopK(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    truth.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        round(col("n_hit") / lit(k.toDouble), 6).as("recall"))
      .orderBy("query_id")
  }

  /** Deterministic random hyperplanes: L tables × bits planes × dim
    * components from one seeded PRNG. Plain Scala on the driver — tiny,
    * broadcast as literals into the plan.
    */
  def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** Adds an exploded (table, bucket) cell per LSH table: bucket = the
    * sign pattern of `bits` hyperplane projections packed into a long.
    */
  private def withLshCells(base: DataFrame, hps: Seq[Seq[Seq[Double]]]): DataFrame = {
    val buckets = hps.map { table =>
      table.zipWithIndex.map { case (hp, j) =>
        when(dot(col("emb"), typedlit(hp)) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    base.withColumn("cells", array(buckets: _*))
      .select(col("*"), posexplode(col("cells")).as(Seq("tbl", "bucket")))
      .drop("cells")
  }

  /** ANN top-k via multi-table hyperplane LSH. Candidate pairs arise only
    * within a (table, bucket) cell; duplicates across tables are
    * deduplicated before scoring so each pair is scored once.
    */
  def lshAnnTopK(embeddings: DataFrame, tables: Int, bits: Int, k: Int,
                 seed: Long = 42L): DataFrame = {
    // hyperplane dimensionality MUST match the data: a truncated dot
    // product would silently bucket on a subspace (vec_dot stops at the
    // shorter array), so derive dim from the table
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    val hps = hyperplanes(tables, bits, dim, seed)
    // vectors + norms computed once, reused by the cell assignment AND the
    // scoring join (CacheManager dedupes the identical subplan)
    val base = withNorms(embeddings.select("vec_id", "embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // cells stay skinny (no embeddings): the pair space is generated and
    // deduplicated on ids only, then the vectors join back in for scoring —
    // shuffling 2 longs per candidate instead of 2 embeddings
    val cells = withLshCells(base.select(col("vec_id"), col("emb")), hps)
      .select("tbl", "bucket", "vec_id")
    val scored = cells.as("a").join(cells.as("b"), Seq("tbl", "bucket"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("cand_id"))
      // a pair found by several tables is scored once
      .dropDuplicates("query_id", "cand_id")
      .join(base.select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm")), "query_id")
      .join(base.select(col("vec_id").as("cand_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm")), "cand_id")
      .select(col("query_id"), col("cand_id"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm"))).as("s"))
    rankedTopK(scored, k, "sim")
  }

  /** Similarity JOIN (J5): all pairs with cosine ≥ threshold, blocked by a
    * join key so the pair space never goes all-pairs. Here the block key
    * is `label` (an IVF-style coarse cell); in a real corpus the block key
    * is an LSH bucket or IVF centroid assignment — the plan shape (hash
    * shuffle on the block key, pair generation only within a cell,
    * id< dedup) is the one that survives scale. A low-cardinality block
    * key skews at 1000 executors; [[lshAnnTopK]] is the high-cardinality
    * variant of the same shape.
    */
  def cosineJoinBlocked(embeddings: DataFrame, threshold: Double): DataFrame = {
    val base = embeddings
      .repartition(col("vec_id")) // single input file → spread the dot products
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))
    val a = base.select(col("label"), col("vec_id").as("a_id"),
      col("emb").as("a_emb"), col("nrm").as("a_nrm"))
    val b = base.select(col("label"), col("vec_id").as("b_id"),
      col("emb").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("sim") >= threshold)
      .select(col("label"), col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
      .orderBy("a_id", "b_id")
  }

  /** The coarse codebook as a small DataFrame: per-label centroid vector
    * (components ordered by dim via the struct sort) with its precomputed
    * squared norm. Stays distributed end-to-end — it is *broadcast* into
    * the assignment join, never collected, so a 4096-cell codebook costs
    * one broadcast instead of a 4096-deep expression tree (the foldLeft-
    * of-when() alternative also evaluates every centroid's score twice).
    */
  private def centroidsDF(embeddings: DataFrame): DataFrame =
    labelCentroids(embeddings)
      .groupBy(col("label").as("clabel"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_val")))).as("cs"))
      .select(col("clabel"),
              transform(col("cs"), s => s.getField("mean_val")).as("cvec"))
      .withColumn("cnorm2", dot(col("cvec"), col("cvec")))

  /** Squared-L2 nearness of a vector column to a codebook cell:
    * -2·v·c + |c|² (the |v|² term is argmin-invariant). The dot product is
    * the same sequential fold on both engines, so scores are IEEE-exact.
    */
  private def cellScore(emb: Column): Column =
    lit(-2.0) * dot(emb, col("cvec")) + col("cnorm2")

  /** Every vector with its nearest-centroid cell (the shared scan behind
    * assignment and search): broadcast-join each vector against the
    * codebook, then argmin via min over a (score, clabel) struct —
    * lexicographic struct ordering breaks ties to the lowest label,
    * mirroring the oracle's row_number ORDER BY (s, clabel). The groupBy
    * reuses the repartition's hash distribution (no second exchange), and
    * the map-side partial aggregation collapses each vector's |codebook|
    * scored rows before any shuffle.
    */
  private def assignedVectors(embeddings: DataFrame, cents: DataFrame): DataFrame =
    assignedFromPoints(
      embeddings.repartition(col("vec_id"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("emb")),
      cents)

  /** One repartitioned, double-projected copy of the corpus points,
    * PERSISTED — the shared scan a whole training/build chain consumes
    * (r17): every Lloyd iteration, the final cell assignment, and the PQ
    * base each re-read AND re-shuffled the raw input without it (4 corpus
    * shuffles per index build → 1 shuffle + cached reads). The projection
    * is exactly [[assignedVectors]]' first two operators, so every
    * From-variant below is value-identical to its embeddings-taking
    * original.
    */
  private def pointsOf(embeddings: DataFrame): DataFrame = {
    // RIGHT-SIZED width (r18): the points frame's partition count is
    // what EVERY downstream stage of a build chain inherits (each Lloyd
    // assignment, the cell/code encodes, the PQ base all scan these
    // cached partitions), and the unpinned repartition spread it
    // session-wide — at local[32] a 32-task map side for every one of
    // the chain's ~15 stages over a sub-MB frame, pure per-task floor
    // (r17 scaling: q_ivfpq_retrain/append/tune 8 cores as fast as 32).
    // Width's session-capped rule sizes it from the input's own stats,
    // so a corpus-sized build still rides the session/deployment sizing.
    val w = graft.Width.capped("points", embeddings)
    val pts = embeddings.repartition(w, col("vec_id"))
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("emb"))
    // LAZY localCheckpoint, not persist: the columnar cache encodes /
    // decodes every array<double> cell per scan (measured r17: a
    // cached 5 MB points frame cost ~200 s of task time across one
    // build chain), while checkpoint blocks store the rows as-is —
    // the same reason docVectors' consumers checkpoint. Lazy so the
    // first consumer's job materializes the blocks (the NearDup
    // fixpoint device). Registry-tracked (r18) so the corpus-sized
    // blocks are released when the consuming query completes instead
    // of pinning block storage until RDD GC.
    //
    // RELIABILITY NOTE (r18): a localCheckpoint lives unreplicated on
    // its executors with lineage truncated — on a multi-node cluster
    // one executor loss fails the consuming job with no recompute
    // path. That trade is deliberate here (the frame is one projection
    // of the input, cheap to rebuild by re-running the build), but
    // deployments that prefer fault tolerance over the measured 3x
    // array-cell encode/decode tax can flip this knob to route the
    // shared frame through a recomputable persist instead.
    if (embeddings.sparkSession.conf
          .get("spark.graft.points.faultTolerant", "false").toBoolean)
      graft.CacheRegistry.track(
        pts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    else graft.CacheRegistry.trackCheckpoint(pts.localCheckpoint(false))
  }

  /** [[assignedVectors]] over an already-projected points frame. */
  private def assignedFromPoints(pts: DataFrame, cents: DataFrame): DataFrame =
    pts.crossJoin(broadcast(cents))
      .withColumn("score", cellScore(col("emb")))
      .groupBy("vec_id")
      .agg(first(col("label")).as("label"), first(col("emb")).as("emb"),
           min(struct(col("score"), col("clabel"))).as("m"))
      .select(col("vec_id"), col("label"), col("emb"), col("m.clabel").as("assigned"))

  /** [[centroidsDF]] over the points frame: emb is already
    * array<double>, and the per-element cast inside quant6 is then a
    * no-op — same per-component doubles, same decimal-exact means.
    */
  private def centroidsFromPoints(pts: DataFrame): DataFrame =
    pts.select(col("label"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("label").as("clabel"), col("dim"))
      .agg((sum(quant6(col("x")).cast("decimal(18,9)")).cast("double") / count(lit(1)))
        .as("mean_val"))
      .groupBy(col("clabel"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_val")))).as("cs"))
      .select(col("clabel"),
              transform(col("cs"), s => s.getField("mean_val")).as("cvec"))
      .withColumn("cnorm2", dot(col("cvec"), col("cvec")))

  def ivfAssign(embeddings: DataFrame): DataFrame =
    assignedVectors(embeddings, centroidsDF(embeddings))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("label", "assigned")

  /** CLUSTER-BALANCED coordinated sample (q_cluster_sample): cap every
    * coarse cell's contribution at `k` vectors, keeping the cell's k
    * smallest id hashes — the topic-balancing downsample a curation
    * pipeline runs after (semantic) dedup: over-represented regions of
    * embedding space are clipped to the cap while sparse regions
    * survive whole (the SemDeDup-follow-up / DataComp cluster-balancing
    * recipe), and the bottom-k selection rule makes the sample
    * deterministic, engine-portable (no rand()), and COORDINATED — a
    * re-run on a grown corpus keeps the shared survivors, the
    * [[graft.operators.TextAnalysis.bottomKSample]] law applied per
    * cell instead of per language.
    *
    * Scale shape: assignment is the broadcast-codebook argmin scan
    * (codebook is census-sized, each vector's |codebook| scored rows
    * collapse map-side); the per-cell rank rides
    * [[TextAnalysis.withGroupedPrefix]] — NEVER a window partitioned by
    * the handful-of-cells key, which would funnel a cell's full corpus
    * share through one task; the per-cell size census broadcasts back
    * onto the ≤ |cells|·k kept rows. Output: every kept row with its
    * cell rank and the cell's pre-sample population.
    */
  def clusterBalancedSample(embeddings: DataFrame, k: Int = 40): DataFrame = {
    val asg = assignedVectors(embeddings, centroidsDF(embeddings))
      .select(col("vec_id"), col("assigned"),
        NearDup.md5Hash60(col("vec_id").cast("string")).as("h"))
    val sizes = asg.groupBy("assigned").agg(count(lit(1)).as("n_cell"))
    asg
      .transform(TextAnalysis.withGroupedPrefix(Seq("assigned"), "rk",
        "_cum", lit(1L), col("h"), col("vec_id")))
      .filter(col("rk") <= k)
      .join(broadcast(sizes), "assigned")
      .select(col("assigned"), col("rk"), col("vec_id"), col("h"),
        col("n_cell"))
      .orderBy("assigned", "rk")
  }

  /** FARTHEST-POINT (greedy k-center) CORESET selection (q_coreset_fps):
    * pick `k` vectors that 2-approximate the k-center cover of the
    * corpus — the diversity-maximizing data-pruning selector (active
    * learning / dataset-distillation "FPS" recipe, the complement of
    * [[clusterBalancedSample]]'s density clipping): start from a
    * deterministic seed (lowest vec_id), then k−1 times select the
    * vector FARTHEST from everything already selected (max of min
    * squared L2, ties to the lowest vec_id). Emits (round, vec_id,
    * radius) where radius is the selected point's distance-to-set at
    * selection time — the non-increasing FPS profile, whose last value
    * bounds the cover radius the coreset achieves.
    *
    * Scale shape: each of the k rounds is ONE narrow map over the
    * candidates (min-dist update against the new pick, inlined as a
    * broadcast-literal vector — zero joins, zero shuffle) plus a
    * TakeOrdered(1) argmax (per-partition top-1, driver merges
    * |partitions| rows); rounds chain through eager localCheckpoints so
    * round i's plan never re-derives rounds 1..i−1 (the components-
    * fixpoint device), with each superseded generation's storage
    * released immediately. Driver state is k rows + one d-dim vector
    * per round — bounded by construction. Total work O(k·N), the
    * honest FPS cost, embarrassingly parallel at any corpus size.
    *
    * Cross-engine determinism: d²(x,y) = x·x − 2·x·y + y·y with every
    * dot through vec_dot's strict fold (= DuckDB's list_dot_product)
    * in the same association order, so the argmax compares IDENTICAL
    * doubles on both engines; the emitted radius goes through the
    * [[quant6]] floor law.
    */
  def coresetFps(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    def d2(e: Column, s: Column): Column =
      dot(e, e) - lit(2.0) * dot(e, s) + dot(s, s)
    val base = embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .localCheckpoint(true)
    val seed = base.orderBy("vec_id").limit(1).collect()
    require(seed.nonEmpty, "coresetFps: empty corpus")
    var picks = Vector((0, seed(0).getLong(0), 0.0))
    var pe: Seq[Double] = seed(0).getSeq[Double](1)
    var cand = base.filter(col("vec_id") =!= picks.head._2)
      .select(col("vec_id"), col("emb"),
        d2(col("emb"), typedlit(pe)).as("mind"))
      .localCheckpoint(true)
    org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(base)
    var r = 1
    var exhausted = false
    while (r < k && !exhausted) {
      // TakeOrdered(1): per-partition top-1, never a global sort
      val top = cand.orderBy(col("mind").desc, col("vec_id")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top(0)
        picks = picks :+ ((r, row.getLong(0), row.getDouble(2)))
        pe = row.getSeq[Double](1)
        val next = cand.filter(col("vec_id") =!= row.getLong(0))
          .select(col("vec_id"), col("emb"),
            least(col("mind"), d2(col("emb"), typedlit(pe))).as("mind"))
          .localCheckpoint(true)
        org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(cand)
        cand = next
        r += 1
      }
    }
    org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(cand)
    import spark.implicits._
    picks.toDF("round", "vec_id", "radius")
      .select(col("round"), col("vec_id"), quant6(col("radius")).as("radius"))
      .orderBy("round")
  }

  /** COVERAGE CENSUS of the FPS coreset (q_coreset_cover): assign every
    * corpus vector to its nearest [[coresetFps]] pick and emit the
    * per-center census — members, DECIMAL-exact mean d², and the
    * center's true cover radius (max d²). This is the audit that makes
    * a coreset TRUSTABLE before it prunes data: the cell populations
    * say whether k under-covers a region, the max column is the
    * realized k-center objective the FPS radius profile only bounds.
    *
    * Scale shape: after the bounded FPS loop, ONE corpus scan — the k
    * centers ride in as a broadcast-literal array, per-row argmin via
    * array_min over a transform (zero joins, zero shuffle before the
    * k-row census agg), the [[assignByLiteralCodebook]] device. d² is
    * quantized (quant6) BEFORE the argmin so both engines tie-break on
    * identical values; ties go to the lowest center id via the
    * (d, cid) struct ordering.
    */
  def coresetCover(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val pickIds = coresetFps(embeddings, k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    // k rows of (center id, embedding): bounded driver state by
    // construction, same contract as the streaming codebook collect
    val centers = embeddings.filter(col("vec_id").isin(pickIds: _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    // cnorm2 computed with the same strict left-to-right fold as
    // vec_dot / list_dot_product, so all three agree bit-for-bit
    def dotScala(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val cbLit = array(centers.map { case (cid, cvec) =>
      struct(typedlit(cvec).as("cvec"),
        lit(dotScala(cvec, cvec)).as("cnorm2"), lit(cid).as("cid"))
    }: _*)
    val e = col("emb")
    val scores = transform(cbLit, c => struct(
      quant6(dot(e, e) - lit(2.0) * dot(e, c.getField("cvec"))
        + c.getField("cnorm2")).as("d"),
      c.getField("cid").as("cid")))
    embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .select(col("vec_id"), array_min(scores).as("m"))
      .groupBy(col("m.cid").as("center_id"))
      .agg(count(lit(1)).as("n_assigned"),
        quant6(sum(col("m.d").cast("decimal(28,6)")).cast("double") /
          count(lit(1))).as("mean_d2"),
        max(col("m.d")).as("max_d2"))
      .orderBy("center_id")
  }

  /** The coarse codebook rows (clabel, cvec, cnorm2) for callers outside
    * this object — StreamOps' streaming ingest collects it (codebook-sized
    * driver state) and inlines it as a literal scoring expression.
    */
  def coarseCodebook(embeddings: DataFrame): DataFrame = centroidsDF(embeddings)

  /** Nearest-cell assignment as a PURE PER-ROW EXPRESSION over a literal
    * codebook — no join at all: scores = transform over the inlined
    * (cvec, cnorm2, clabel) structs, argmin = array_min's lexicographic
    * struct ordering (score first, clabel second — the same (score,
    * clabel) tie-break as [[assignedVectors]]' min-struct and the
    * oracle's row_number). This is the streaming-ingest scoring path: a
    * micro-batch assigns vectors against a broadcast-literal codebook
    * with zero shuffle and zero state beyond the downstream census agg.
    */
  def assignByLiteralCodebook(emb: Column,
                              codebook: Seq[(Int, Seq[Double], Double)]): Column = {
    val cbLit = array(codebook.map { case (clabel, cvec, cnorm2) =>
      struct(typedlit(cvec).as("cvec"), lit(cnorm2).as("cnorm2"),
             lit(clabel).as("clabel"))
    }: _*)
    val scores = transform(cbLit, c => struct(
      (lit(-2.0) * dot(emb, c.getField("cvec")) + c.getField("cnorm2")).as("s"),
      c.getField("clabel").as("clabel")))
    array_min(scores).getField("clabel")
  }

  /** Per-cell component means of the vectors assigned under `cents` — the
    * "update" half of one Lloyd iteration, shared by [[kmeansStep]] and
    * the [[kmeansTrain]] loop. Decimal-exact sums keep the means
    * independent of partition/merge order, and each component is
    * quantized to 6 decimals IN DOUBLE SPACE ([[quant6]]) before the
    * decimal cast: Spark's double→decimal goes through
    * BigDecimal.valueOf (shortest-string HALF_UP) while DuckDB's cast
    * truncates toward zero, so raw float-origin components quantize
    * differently ~60% of the time — a ~1e-10 cross-engine mean drift
    * that surfaced as a round-6 boundary flip at sf0.1
    * (q_semantic_dedup, round 7). 6-decimal doubles cast identically on
    * both engines, making every codebook bit-identical cross-engine
    * (quant6's floor device makes that a guarantee, not a measurement:
    * each engine's round() can disagree within one ulp of a .5
    * boundary); the 1e-6 input quantization is semantically free for a
    * quantizer that is about to compress far harder anyway. Same device
    * as the residual quantization in [[ivfPqResidualSearch]].
    */
  private def stepMeans(embeddings: DataFrame, cents: DataFrame): DataFrame =
    assignedVectors(embeddings, cents)
      .select(col("assigned"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy("assigned", "dim")
      .agg((sum(quant6(col("x").cast("double")).cast("decimal(18,9)")).cast("double") / count(lit(1)))
        .as("mean_val"))

  /** Rebuild the broadcastable codebook from (assigned, dim, mean_val)
    * mean rows — the same shape [[centroidsDF]] derives from label means,
    * so iterations compose. Cells that lost every vector simply vanish
    * (standard Lloyd's; both engines drop them identically).
    */
  private def codebookFromMeans(means: DataFrame): DataFrame =
    means
      .groupBy(col("assigned").as("clabel"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_val")))).as("cs"))
      .select(col("clabel"),
              transform(col("cs"), s => s.getField("mean_val")).as("cvec"))
      .withColumn("cnorm2", dot(col("cvec"), col("cvec")))

  /** k-means TRAINED for `iters` Lloyd iterations (assign → update,
    * iterated), returning the final (assigned, dim, mean_val) rows —
    * iters=1 is exactly [[kmeansStep]]. Deterministic end-to-end (argmin
    * tiebreaks to the lowest cell id, means are decimal-exact, dot
    * products are the same sequential fold both engines run), so the
    * whole trained codebook hash-matches a DuckDB oracle that iterates
    * the same CTE chain. Per iteration: one codebook broadcast + one
    * mean shuffle; every intermediate codebook is codebook-sized, so
    * driver/broadcast state never grows with the corpus — the loop a
    * 100 TB IVF index build runs. The per-iteration codebook is
    * persisted (tiny) to stop plan-depth blowup: without it, iteration
    * i's plan re-derives every earlier iteration once per consumer.
    */
  /** The ONE Lloyd loop behind kmeansTrain and trainedCodebook: run
    * `iters` assign/update iterations and return both halves of the last
    * one — the final per-cell means and the codebook rebuilt from them.
    * A single implementation so the persist/track discipline and the
    * tie-break can never diverge between the two public views of the
    * same training run.
    */
  private def lloydChain(embeddings: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, "k-means training needs at least one iteration")
    var cents = centroidsDF(embeddings)
    var means: DataFrame = null
    for (_ <- 1 to iters) {
      means = stepMeans(embeddings, cents)
      cents = codebookFromMeans(means)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track)
    }
    (means, cents)
  }

  /** [[lloydChain]] over a shared [[pointsOf]] frame: each iteration's
    * assignment reads the persisted points instead of re-scanning and
    * re-shuffling the input (r17). Same seeding, same per-iteration
    * arithmetic and persist discipline — the returned codebooks are
    * bit-identical to the embeddings-taking chain.
    */
  private def lloydChainFrom(pts: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, "k-means training needs at least one iteration")
    var cents = centroidsFromPoints(pts)
    var means: DataFrame = null
    for (_ <- 1 to iters) {
      means = assignedFromPoints(pts, cents)
        .select(col("assigned"), posexplode(col("emb")).as(Seq("dim", "x")))
        .groupBy("assigned", "dim")
        .agg((sum(quant6(col("x")).cast("decimal(18,9)")).cast("double") / count(lit(1)))
          .as("mean_val"))
      cents = codebookFromMeans(means)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track)
    }
    (means, cents)
  }

  def kmeansTrain(embeddings: DataFrame, iters: Int): DataFrame =
    lloydChain(embeddings, iters)._1.orderBy("assigned", "dim")

  /** The trained codebook itself (what [[ivfSearch]] indexes on when
    * trainIters > 0). Already persisted + registered by the chain.
    */
  private def trainedCodebook(embeddings: DataFrame, iters: Int): DataFrame =
    lloydChain(embeddings, iters)._2

  /** SEMANTIC decontamination (q_decontam_semantic) — the embedding-
    * space member of the decontamination family: TextAnalysis'
    * n-gram forms catch verbatim and near-verbatim leakage, this
    * catches PARAPHRASED leakage — an eval item whose embedding sits
    * cosine-≥τ from any train item leaked in meaning even when no
    * 5-gram survived the rewording. Split law is the suite's shared
    * md5(id) routing (the [[graft.operators.TextAnalysis
    * .decontamination]] device on vec_id), blocking is the SemDeDup
    * cell structure ([[semanticDedup]]'s trained Lloyd chain): pairs
    * arise only within a k-means cell, train×eval only. Output: one
    * row per CONTAMINATED eval vector with its split, how many train
    * neighbors qualify, and the worst (highest) similarity — the
    * evidence row an eval-suite audit files before dropping the item.
    *
    * Same honest caveat as SemDeDup: a cross-cell near pair is missed
    * by construction (the blocking tradeoff that makes the operator
    * corpus-linear); raise trainIters/cells or run the ANN index for
    * recall-critical audits. Scale shape: codebook broadcast,
    * within-cell train×eval join (never all-pairs), one hash agg on
    * the eval id. Determinism: dots/norms are IEEE-exact; max picks
    * one of identical doubles; one display round.
    */
  def semanticDecontam(embeddings: DataFrame, tau: Double = 0.3,
                       trainIters: Int = 2): DataFrame = {
    val cents = trainedCodebook(embeddings, trainIters)
    val base = assignedVectors(embeddings, cents)
      .withColumn("nrm", l2Norm(col("emb")))
      .withColumn("h",
        pmod(NearDup.md5Hash60(col("vec_id").cast("string")), lit(100)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "valid")
          .otherwise("test"))
      .select(col("vec_id"), col("assigned").as("cell"), col("emb"),
        col("nrm"), col("split"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val train = base.filter(col("split") === "train")
      .select(col("cell"), col("emb").as("t_emb"), col("nrm").as("t_nrm"))
    val eval = base.filter(col("split") =!= "train")
      .select(col("cell"), col("split"), col("vec_id"),
        col("emb").as("e_emb"), col("nrm").as("e_nrm"))
    eval.join(train, Seq("cell"))
      .withColumn("sim",
        dot(col("e_emb"), col("t_emb")) / (col("e_nrm") * col("t_nrm")))
      .filter(col("sim") >= tau)
      .groupBy("split", "vec_id")
      .agg(count(lit(1)).as("n_near_train"),
        round(max(col("sim")), 6).as("max_sim"))
      .orderBy("split", "vec_id")
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the embedding space, then WITHIN each cluster drop
    * every vector that has a cosine-≥τ neighbor closer to the cluster
    * centroid — embedding-space near-dup removal, the semantic sibling
    * of the token-level near-dup family in [[NearDup]]. Composes the
    * trained Lloyd chain (the coarse quantizer every IVF search here
    * shares) with the within-cell pair generation of
    * [[cosineJoinBlocked]] and the best-copy retention rule of
    * `NearDup.clusterRepresentatives` (there: quality score; here:
    * centroid distance, the paper's retention criterion).
    *
    * Drop rule: x is dropped iff some same-cell y has cos(x,y) ≥ τ and
    * (d²(y,centroid), y_id) < (d²(x,centroid), x_id) — a strict total
    * order, so the centroid-closest member of every similar group
    * always survives (no cycle can drop a whole group, including
    * transitive chains). Output per vector: cell, centroid distance,
    * qualifying-neighbor count, kept flag.
    *
    * Scale shape: pairs arise only INSIDE a k-means cell (the SemDeDup
    * design point — never all-pairs; at 100 TB the cell count scales
    * with the corpus so cells stay bounded), the codebook is broadcast,
    * and the verdict aggregation is one hash shuffle on vec_id. Every
    * arithmetic step (dot products, sqrt, comparisons) is IEEE-exact
    * and engine-neutral, so the whole operator hash-matches a DuckDB
    * oracle that recomputes the same trained codebook.
    */
  def semanticDedup(embeddings: DataFrame, tau: Double = 0.3,
                    trainIters: Int = 2): DataFrame = {
    val cents = trainedCodebook(embeddings, trainIters)
    // every vector with its assigned cell, norm, and exact squared
    // centroid distance |v|² + (-2 v·c + |c|²) — one persisted frame
    // feeding both self-join sides and the final census
    val base = assignedVectors(embeddings, cents)
      .join(broadcast(cents), col("assigned") === col("clabel"))
      .withColumn("nrm", l2Norm(col("emb")))
      .withColumn("d2", dot(col("emb"), col("emb")) + cellScore(col("emb")))
      .select(col("vec_id"), col("assigned").as("cell"),
              col("emb"), col("nrm"), col("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val a = base.select(col("cell"), col("vec_id").as("a_id"),
      col("emb").as("a_emb"), col("nrm").as("a_nrm"), col("d2").as("a_d2"))
    val b = base.select(col("cell"), col("vec_id").as("b_id"),
      col("emb").as("b_emb"), col("nrm").as("b_nrm"), col("d2").as("b_d2"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim",
        dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("sim") >= tau)
      .select("cell", "a_id", "b_id", "a_d2", "b_d2")
    val sym = pairs.select(col("a_id").as("vec_id"), col("a_d2").as("my_d2"),
        col("b_id").as("nbr_id"), col("b_d2").as("nbr_d2"))
      .union(pairs.select(col("b_id").as("vec_id"), col("b_d2").as("my_d2"),
        col("a_id").as("nbr_id"), col("a_d2").as("nbr_d2")))
    val verdict = sym.groupBy("vec_id")
      .agg(count(lit(1)).as("n_near"),
           max(when(col("nbr_d2") < col("my_d2") ||
               (col("nbr_d2") === col("my_d2") && col("nbr_id") < col("vec_id")),
             1).otherwise(0)).as("dropped"))
    base.join(verdict, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), round(col("d2"), 6).as("d2"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (lit(1) - coalesce(col("dropped"), lit(0))).cast("int").as("kept"))
      .orderBy("vec_id")
  }

  /** Shared PQ base (M=2 subspaces): every vector split into halves, one
    * persisted scan feeding sub-codebook derivation, code assignment, AND
    * query lookup tables across [[pqEncode]]/[[pqSearch]]/[[ivfPqSearch]]
    * — the round-4 VERDICT's consolidation ask (the two near-identical
    * 15-line derivations, one of which re-scanned `embeddings` per
    * sub-codebook, live here once now).
    */
  private def pqBase(embeddings: DataFrame): DataFrame = {
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    val h = d / 2
    embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), col("label"),
        asDouble(slice(col("embedding"), 1, h)).as("e1"),
        asDouble(slice(col("embedding"), h + 1, d - h)).as("e2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
  }

  /** [[pqBase]] over the shared [[pointsOf]] frame with the
    * dimensionality already known: slicing the double array equals
    * casting the sliced raw array elementwise, so e1/e2 are the same
    * doubles. No separate persist — every consumer streams the slice
    * projection off the points cache instead of holding a second copy
    * of the corpus (r17).
    */
  private def pqBaseFrom(pts: DataFrame, d: Int): DataFrame = {
    val h = d / 2
    pts.select(col("vec_id"), col("label"),
      slice(col("emb"), 1, h).as("e1"),
      slice(col("emb"), h + 1, d - h).as("e2"))
  }

  /** Sub-codebook of one half: per-label centroid of that half's
    * components (decimal-exact means), derived from the persisted PQ base
    * — one cached-scan per sub-codebook, never a fresh `embeddings` read.
    */
  private def subCodebook(base: DataFrame, half: String): DataFrame = base
    .select(col("label"), posexplode(col(half)).as(Seq("dim", "x")))
    .groupBy("label", "dim")
    .agg((sum(quant6(col("x").cast("double")).cast("decimal(18,9)")).cast("double") / count(lit(1)))
      .as("mean_val"))
    .groupBy(col("label").as("clabel"))
    .agg(array_sort(collect_list(struct(col("dim"), col("mean_val")))).as("cs"))
    .select(col("clabel"),
            transform(col("cs"), s => s.getField("mean_val")).as("cvec"))
    .withColumn("cnorm2", dot(col("cvec"), col("cvec")))

  /** Argmin sub-centroid per vector for one half — the PQ code column.
    * min over a (score, clabel) struct == the oracle's
    * row_number ORDER BY (s, clabel) tie-break.
    */
  private def assignHalf(base: DataFrame, half: String, cb: DataFrame,
                         out: String): DataFrame = base
    .select(col("vec_id"), col(half).as("emb"))
    .crossJoin(broadcast(cb))
    .withColumn("score", cellScore(col("emb")))
    .groupBy("vec_id")
    .agg(min(struct(col("score"), col("clabel"))).as("m"))
    .select(col("vec_id"), col("m.clabel").as(out))

  /** Per-query ADC lookup table for one half: TRUE squared distance of
    * each query half to every sub-centroid (|q|² restores the
    * argmin-invariant term so the two halves ADD into a real distance
    * estimate). Broadcast-sized: nQueries × |codebook| rows.
    */
  private def adcLookup(base: DataFrame, half: String, cb: DataFrame,
                        nQueries: Int, qCol: String, cCol: String,
                        out: String): DataFrame = base
    .filter(col("vec_id") < nQueries)
    .select(col("vec_id").as(qCol), col(half).as("q"))
    .crossJoin(broadcast(cb))
    .select(col(qCol), col("clabel").as(cCol),
      (dot(col("q"), col("q")) + cellScore(col("q"))).as(out))

  /** PRODUCT-QUANTIZATION encoding (M=2 subspaces): each vector splits
    * into two halves, each half is assigned to its nearest sub-centroid
    * (label centroids of that half as the sub-codebook), and the vector's
    * PQ code is the (code1, code2) pair — the other classic ANN
    * compression next to IVF, giving |codebook|² representable cells from
    * 2×|codebook| stored centroids. Output is the code-cell census
    * (deterministic longs; reconstruction quality is a scalatest concern,
    * not an oracle one — summed float error is merge-order-sensitive).
    * Scale shape: two independent broadcast-argmin passes over the same
    * persisted base + one vec_id join — no step holds more than
    * codebook-sized driver state.
    */
  def pqEncode(embeddings: DataFrame): DataFrame = {
    val base = pqBase(embeddings)
    assignHalf(base, "e1", subCodebook(base, "e1"), "code1")
      .join(assignHalf(base, "e2", subCodebook(base, "e2"), "code2"), "vec_id")
      .groupBy("code1", "code2").agg(count(lit(1)).as("n_vectors"))
      .orderBy("code1", "code2")
  }

  /** PQ ASYMMETRIC-DISTANCE search (ADC): queries stay uncompressed,
    * candidates are their PQ codes, and the estimated distance to a
    * candidate is the sum of exact query-half-to-sub-centroid distances
    * looked up by the candidate's code pair — the classic PQ search that
    * scores a billion candidates from two |codebook|-row lookup tables
    * per query. The scan is linear over candidates BY DESIGN (that is
    * ADC; IVF bounds the candidate set when composed), but each scored
    * row carries only two longs and two doubles, never the vectors. All
    * arithmetic is the same sequential-fold dot products both engines
    * run, so estimated distances are IEEE-exact and the ranking is
    * oracle-checkable.
    */
  /** trainIters > 0 TRAINS each sub-codebook with that many Lloyd
    * iterations over its half-vectors (true PQ training — the same
    * [[lloydChain]] the coarse quantizer uses, fed a (vec_id, label,
    * embedding=half) view; label centroids remain the k-means init).
    * trainIters = 0 keeps the label-centroid sub-codebooks.
    */
  def pqSearch(embeddings: DataFrame, nQueries: Int, k: Int,
               trainIters: Int = 0): DataFrame =
    rankedTopK(pqScored(embeddings, nQueries, trainIters),
      k, "est_d2", sc => -sc)

  /** The PQ-ADC candidate scorer shared by [[pqSearch]] and
    * [[pqRerankSearch]]: (query_id, cand_id, s = −est_d2) rows — one
    * implementation so the code/lookup/self-match contract can never
    * drift between the raw search and the re-ranked one.
    */
  private def pqScored(embeddings: DataFrame, nQueries: Int,
                       trainIters: Int): DataFrame = {
    val base = pqBase(embeddings)
    def cb(half: String): DataFrame =
      if (trainIters > 0)
        lloydChain(base.select(col("vec_id"), col("label"),
          col(half).as("embedding")), trainIters)._2
      else subCodebook(base, half)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track)
    val cb1 = cb("e1")
    val cb2 = cb("e2")
    // candidate codes: argmin cell per half (identical to pqEncode)
    val codes = assignHalf(base, "e1", cb1, "code1")
      .join(assignHalf(base, "e2", cb2, "code2"), "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val d1 = adcLookup(base, "e1", cb1, nQueries, "query_id", "c1", "d1")
    val d2 = adcLookup(base, "e2", cb2, nQueries, "query_id2", "c2", "d2")
    // TopKAgg keeps the HIGHEST scores — negate the distance estimate
    codes
      .join(broadcast(d1), col("code1") === col("c1"))
      .join(broadcast(d2),
        col("code2") === col("c2") && col("query_id") === col("query_id2"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (-(col("d1") + col("d2"))).as("s"))
  }

  /** TWO-STAGE search: PQ-ADC candidate generation + EXACT re-ranking —
    * the refinement step every production ANN serving stack runs on top
    * of a compressed index (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", §V: re-rank the shortlist with exact
    * distances). Stage 1 is [[pqSearch]]'s scoring verbatim, kept to the
    * top `m` estimated candidates per query; stage 2 retrieves ONLY those
    * m raw vectors and re-orders by true squared L2, emitting the top k
    * exact distances.
    *
    * Scale shape: stage 1 scans codes, never vectors (two longs + two
    * doubles per candidate); stage 2's vector retrieval is a skinny
    * (query_id, neighbor_id) hash join that touches |Q|·m rows of the
    * vector table — the random-access read a serving system does against
    * its vector store — and the final top-k is the same bounded TopKAgg,
    * so no stage shuffles more than |Q|·m skinny rows. Exactness of the
    * re-ranked distances is what the oracle checks; recall improvement
    * over raw PQ order is a scalatest concern.
    */
  def pqRerankSearch(embeddings: DataFrame, nQueries: Int, k: Int,
                     m: Int = 30): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    val shortlist =
      rankedTopK(pqScored(embeddings, nQueries, trainIters = 0),
        m, "est_d2", sc => -sc)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(shortlist, embeddings, nQueries, k)
  }

  /** Stage 2 of the two-stage searches: fetch the shortlist's raw vectors
    * and re-rank by exact squared L2 — grouping (|q|² − 2 q·v) + |v|²
    * matches the oracle's expression order, so distances are
    * IEEE-identical cross-engine. Shared by [[pqRerankSearch]] and
    * [[ivfPqRerankSearch]] so the refinement contract can never drift.
    */
  private def exactRerank(shortlist: DataFrame, embeddings: DataFrame,
                          nQueries: Int, k: Int): DataFrame =
    exactRerankFrom(shortlist,
      embeddings.repartition(col("vec_id"))
        .select(col("vec_id"), asDouble(col("embedding")).as("emb")),
      nQueries, k)

  /** [[exactRerank]] over an already-projected (vec_id, emb) frame — the
    * tune census passes its shared points so the three rerank tiers stop
    * re-shuffling the corpus (r17); same join shape and IEEE chain.
    */
  private def exactRerankFrom(shortlist: DataFrame, vecs: DataFrame,
                              nQueries: Int, k: Int): DataFrame = {
    val queries = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("q_emb"))
    val exact = shortlist
      .join(vecs, col("neighbor_id") === col("vec_id"))
      .join(broadcast(queries), col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        (-((dot(col("q_emb"), col("q_emb"))
            - lit(2.0) * dot(col("q_emb"), col("emb")))
           + dot(col("emb"), col("emb")))).as("s"))
    rankedTopK(exact, k, "d2", sc => -sc)
  }

  /** INT8 SCALAR QUANTIZATION (SQ8) census — the 4× compression a vector
    * store applies before anything fancier: per vector a symmetric scale
    * max|x|/127, codes floor(x/scale + 0.5) in [-127, 127], and the
    * reconstruction L2 error. floor(·+0.5) is the rounding both engines
    * define identically (Spark round() and DuckDB round() disagree on
    * negative halves), and every step is per-row expression work — a
    * zero-shuffle scan at any corpus size, emitting one skinny census row
    * per vector while the codes themselves would stream to the store.
    */
  def sq8Quantize(embeddings: DataFrame): DataFrame =
    sq8QuantizeUnordered(embeddings).orderBy("vec_id")

  /** Unordered form for composition (StreamOps.streamSq8). */
  def sq8QuantizeUnordered(embeddings: DataFrame): DataFrame =
    sq8Base(embeddings)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.size(col("e")).cast("long").as("n_dims"),
        round(col("scale"), 6).as("scale"),
        aggregate(col("codes"), lit(0L), (acc, q) => acc + q).as("sum_code"),
        aggregate(col("codes"), lit(0L),
          (acc, q) => acc + when(abs(q) === 127, lit(1L)).otherwise(lit(0L)))
          .as("n_sat"),
        round(sqrt(dot(col("res"), col("res"))), 6).as("l2_err"))

  /** Shared SQ8 derivation: per-element scale/code/residual columns. The
    * code expression keeps its zero-scale guard PER ELEMENT so the DuckDB
    * oracle's CASE-inside-comprehension is the literally same arithmetic.
    */
  private def sq8Base(embeddings: DataFrame): DataFrame =
    embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("scale",
        array_max(transform(col("e"), x => abs(x))) / lit(127.0))
      .withColumn("codes", transform(col("e"),
        x => when(col("scale") > 0,
          floor(x / col("scale") + lit(0.5)).cast("long")).otherwise(lit(0L))))
      .withColumn("res", zip_with(col("e"), col("codes"),
        (x, q) => x - q * col("scale")))

  /** ASYMMETRIC SQ8 search: queries stay full-precision, candidates are
    * scanned RECONSTRUCTED from their int8 codes (code × scale) — the
    * memory-bandwidth-bound brute-force pass a quantized vector store
    * runs (4× fewer bytes per candidate than the float scan of
    * [[bruteForceTopK]], at ~1e-2 relative distance error). Same
    * broadcast-queries / streaming-candidates / bounded-TopKAgg plan as
    * the exact baseline; recall vs exact is a scalatest bound, the
    * reconstructed arithmetic itself is oracle-exact.
    */
  def sq8Search(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // reconstruction is code × scale — derived from sq8Base's codes so
    // the rounding law has exactly one definition (codes are whole
    // doubles cast to long exactly, so this is value-identical to
    // re-running floor(x/scale + 0.5) × scale, which is what the oracle
    // computes)
    val base = sq8Base(embeddings)
      .withColumn("recon", transform(col("codes"), q => q * col("scale")))
      .select(col("vec_id"), col("e"), col("recon"),
        l2Norm(col("e")).as("nrm_e"), l2Norm(col("recon")).as("nrm_r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("q_emb"),
              col("nrm_e").as("q_nrm"))
    // an all-zero vector has scale 0 ⇒ all codes 0 ⇒ nrm_r = 0, and 0/0
    // is NaN — which BOTH engines order above every real sim, so one zero
    // vector would top every query's list; such a vector has no direction
    // and belongs in no cosine ranking, so drop it from the candidates
    val scored = base.filter(col("nrm_r") > 0)
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (dot(col("recon"), col("q_emb")) / (col("nrm_r") * col("q_nrm"))).as("s"))
    rankedTopK(scored, k, "sim")
  }

  /** Per-vector SIGN-BIT binary codes, packed as two 32-bit halves
    * (code_lo = dims 1..32, code_hi = dims 33..64). Two halves — not
    * one 64-bit word — because bit 63 would make the packed sum
    * overflow SIGNED 64-bit arithmetic, which DuckDB rejects at
    * runtime while Java wraps silently; 32-bit halves keep every
    * value exact on both engines (and mirror the PQ half-split
    * layout). The bit build is the [[withLshCells]] sum-of-disjoint-
    * powers device applied to the raw component signs (hyperplanes =
    * the standard basis), fully codegen'd.
    */
  private def withBinaryCodes(vecs: DataFrame): DataFrame = {
    def half(lo: Int): Column =
      (lo until lo + 32).map { j =>
        when(element_at(col("emb"), j + 1) > lit(0.0),
          lit(1L << (j - lo))).otherwise(lit(0L))
      }.reduce(_ + _)
    vecs.withColumn("code_lo", half(0)).withColumn("code_hi", half(32))
  }

  /** BINARY (1-bit) QUANTIZATION census (q_binary_quant) — the 32×
    * compression tier below SQ8's 4× ([[sq8Quantize]]): each dimension
    * keeps only its sign, the whole vector becomes 64 bits, and
    * similarity degrades to Hamming distance — the representation
    * binary-embedding stores (and the re-rank-recoverable first stage
    * of [[hammingRerankSearch]]) ship to keep a billion vectors in
    * RAM. Emits per vector the two packed halves and the population
    * count (the bit-balance statistic a store monitors: sign bits of
    * centered embeddings should split ~50/50; drift toward all-ones
    * means the encoder's output shifted and Hamming contrast is
    * dying).
    *
    * Scale shape: one zero-shuffle scan, every bit a codegen'd
    * sign-test expression — the q_embed_quantize class. Determinism:
    * bit tests compare exact float-widened doubles against 0; the
    * packed sums are integer arithmetic.
    */
  def binaryQuantize(embeddings: DataFrame): DataFrame =
    binaryQuantizeUnordered(embeddings).orderBy("vec_id")

  /** Unordered form for composition (StreamOps.binaryUpsertBatch) — the
    * census query's oracle-determinism orderBy must not leak a range
    * exchange into every maintenance batch (the sq8QuantizeUnordered
    * discipline).
    */
  def binaryQuantizeUnordered(embeddings: DataFrame): DataFrame =
    withBinaryCodes(embeddings.repartition(col("vec_id"))
        .select(col("vec_id"), asDouble(col("embedding")).as("emb")))
      .select(col("vec_id"), col("code_lo"), col("code_hi"),
        (expr("bit_count(code_lo)") + expr("bit_count(code_hi)"))
          .cast("long").as("n_bits"))

  /** Stage 2 shared by the two-stage COSINE searches
    * ([[hammingRerankSearch]], [[matryoshkaSearch]]): fetch the
    * shortlist's raw vectors and re-rank by exact cosine — the same
    * skinny (query_id, neighbor_id) join + broadcast-queries +
    * bounded-TopKAgg shape as [[exactRerank]], with the cosine
    * arithmetic of [[bruteForceTopK]] so the refinement contract can
    * never drift from the brute tier.
    */
  private def cosineRerank(shortlist: DataFrame, embeddings: DataFrame,
                           nQueries: Int, k: Int): DataFrame = {
    val vecs = withNorms(embeddings.select("vec_id", "embedding"))
    val queries = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val exact = shortlist
      .join(vecs, col("neighbor_id") === col("vec_id"))
      .join(broadcast(queries), col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        (dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("s"))
    rankedTopK(exact, k, "sim")
  }

  /** HAMMING-SHORTLIST serving search (q_hamming_search) — the binary
    * deployment pattern: stage 1 ranks candidates by Hamming distance
    * between packed sign-bit codes (two XOR-popcounts per candidate —
    * 16 bytes of code traffic where the float scan moves 512), stage 2
    * re-ranks only the top-`m` shortlist by exact cosine on the raw
    * vectors. The binary twin of [[pqRerankSearch]]: codes bound the
    * scan bytes, `m` bounds the random reads, and the emitted contract
    * is the shared [[rankedTopK]] ranked-cosine shape, so the oracle
    * checks the full two-stage composition.
    *
    * Scale shape: stage 1 is a broadcast-queries code scan into the
    * bounded TopKAgg (never a pair shuffle); stage 2 touches |Q|·m raw
    * vectors. Determinism: Hamming is integer arithmetic; ties rank by
    * cand_id under the TopKAgg total order; cosine re-rank is the
    * brute tier's IEEE chain.
    */
  def hammingRerankSearch(embeddings: DataFrame, nQueries: Int = 20,
                          k: Int = 10, m: Int = 50): DataFrame =
    hammingFromCodes(
      withBinaryCodes(embeddings.repartition(col("vec_id"))
          .select(col("vec_id"), asDouble(col("embedding")).as("emb")))
        .select("vec_id", "code_lo", "code_hi"),
      embeddings, nQueries, k, m)

  /** The two-stage serve from an already-built (vec_id, code_lo,
    * code_hi) code table — shared by [[hammingRerankSearch]] (codes
    * computed inline) and [[searchBinaryIndex]] (codes read from the
    * persisted store), so inline and from-files serves can never
    * drift.
    */
  private def hammingFromCodes(codes: DataFrame, embeddings: DataFrame,
                               nQueries: Int, k: Int, m: Int): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    val queries = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code_lo").as("q_lo"),
        col("code_hi").as("q_hi"))
    val scored = codes.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (lit(0L) - (expr("bit_count(code_lo ^ q_lo)") +
          expr("bit_count(code_hi ^ q_hi)"))).cast("double").as("s"))
    val shortlist = rankedTopK(scored, m, "hamming", sc => -sc)
      .select(col("query_id"), col("neighbor_id"))
    cosineRerank(shortlist, embeddings, nQueries, k)
  }

  /** Persist the binary-code store (q_binary_saved's build half): one
    * skinny (vec_id, code_lo, code_hi) row per vector — 16 bytes of
    * index per 512-byte vector — written vec_id-bucketed, the SAME
    * layout the streaming maintenance path upserts into (the
    * buildLexicalIndex discipline), so offline build and live upsert
    * are interchangeable producers of one artifact.
    */
  def buildBinaryIndex(embeddings: DataFrame, dir: String,
                       nBuckets: Int = 16): Unit =
    withBinaryCodes(embeddings.repartition(col("vec_id"))
        .select(col("vec_id"), asDouble(col("embedding")).as("emb")))
      .select(col("vec_id"), col("code_lo"), col("code_hi"))
      .withColumn("bucket",
        pmod(col("vec_id"), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** Serve the Hamming-shortlist search FROM THE SAVED CODES — the
    * deployed form of [[hammingRerankSearch]]: stage 1 scans the code
    * artifacts (never re-quantizing the corpus), stage 2 re-ranks
    * against the raw vector table. Value-identical to the inline serve
    * by construction (q_binary_saved shares q_hamming_search's oracle
    * verbatim).
    */
  def searchBinaryIndex(spark: SparkSession, dir: String,
                        embeddings: DataFrame, nQueries: Int = 20,
                        k: Int = 10, m: Int = 50): DataFrame =
    hammingFromCodes(
      spark.read.parquet(dir).select("vec_id", "code_lo", "code_hi"),
      embeddings, nQueries, k, m)

  /** Build + serve round-trip for the oracle harness. */
  def binarySavedRoundtrip(spark: SparkSession, sfDir: String,
                           nQueries: Int = 20, k: Int = 10,
                           m: Int = 50): DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    buildBinaryIndex(emb, dir)
    searchBinaryIndex(spark, dir, emb, nQueries, k, m)
  }

  /** MATRYOSHKA (MRL) PREFIX-DIMENSION serving search
    * (q_matryoshka_search; Kusupati et al. 2022) — the adaptive-
    * retrieval pattern matryoshka-trained encoders enable: stage 1
    * ranks by cosine over only the FIRST `prefixDim` components (the
    * nested sub-embedding — 4× less scan traffic at prefixDim = 16 of
    * 64), stage 2 re-ranks the top-`m` shortlist with full-dimension
    * cosine. On the synthetic embeddings the prefix is just a
    * truncation (they are not MRL-trained), which is exactly what the
    * recall-floor spec measures against the brute tier; the plan —
    * skinny prefix scan, then |Q|·m full-vector reads — is the
    * production shape regardless of encoder.
    *
    * Scale shape and determinism: both stages are the established
    * broadcast-queries + bounded-TopKAgg cosine chain; the prefix is
    * slice(), zero extra shuffles. A zero prefix norm (all 16 leading
    * components exactly 0) has no direction in the prefix space and is
    * dropped from stage-1 candidates, mirrored in the oracle.
    */
  def matryoshkaSearch(embeddings: DataFrame, nQueries: Int = 20,
                       k: Int = 10, m: Int = 50,
                       prefixDim: Int = 16): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    val base = embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("pre", slice(col("emb"), 1, prefixDim))
      .withColumn("pnrm", l2Norm(col("pre")))
    // zero-norm drop applies to BOTH sides: a query whose leading
    // prefixDim components are all 0 has no direction in the prefix
    // space either, and q_pnrm = 0 would divide to NaN/Inf
    val queries = base.filter(col("vec_id") < nQueries &&
        col("pnrm") > 0)
      .select(col("vec_id").as("query_id"), col("pre").as("q_pre"),
        col("pnrm").as("q_pnrm"))
    val scored = base.filter(col("pnrm") > 0)
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (dot(col("pre"), col("q_pre")) / (col("pnrm") * col("q_pnrm")))
          .as("s"))
    val shortlist = rankedTopK(scored, m, "pre_sim")
      .select(col("query_id"), col("neighbor_id"))
    cosineRerank(shortlist, embeddings, nQueries, k)
  }

  /** IVF-PQ COMPOSED search — the index a production ANN system actually
    * deploys: a k-means-trained coarse quantizer bounds the candidate set
    * (each query probes only its `nprobe` nearest cells), and PQ
    * asymmetric distance scores only those cells' members from two
    * broadcast lookup tables. Composition of the two oracled halves
    * ([[ivfSearch]] with trainIters, [[pqSearch]]) sharing their
    * implementations: the coarse side is the same [[lloydChain]] codebook
    * + [[assignedVectors]] argmin, the fine side the same [[pqBase]]/
    * [[subCodebook]]/[[assignHalf]]/[[adcLookup]] chain.
    *
    * Scale shape: candidate generation is a skinny (vec_id, query_id)
    * join of cell assignments against a broadcast probe list — bounded by
    * nprobe × cell occupancy, never the corpus; ADC scoring then moves
    * two longs + two doubles per candidate, never vectors; every
    * broadcast (codebooks, probes, lookup tables) is codebook- or
    * query-set-sized. This is the 100 TB ANN serving plan: a billion
    * candidates reduce to |probed cells| scans of code shards.
    */
  def ivfPqSearch(embeddings: DataFrame, nQueries: Int, k: Int,
                  nprobe: Int = 2, trainIters: Int = 2): DataFrame =
    rankedTopK(ivfPqScored(embeddings, nQueries, nprobe, trainIters),
      k, "est_d2", sc => -sc)

  /** IVF-PQ TUNING census (q_ivfpq_tune) — recall@k per nprobe setting,
    * the knob table an ANN deployment reads before pinning its
    * latency/recall tradeoff: nprobe is THE serving knob (candidates
    * scanned scale linearly with probed cells), and the right value is
    * an empirical property of the corpus, so a deployment measures it
    * on a query sample exactly like this, then ships the smallest
    * setting above its recall floor. Two serve tiers per setting — raw
    * ADC and ADC + exact re-rank — because the knobs interact: the
    * re-rank tier multiplies recall at every nprobe (it fixes ADC
    * distortion inside the shortlist), but with a FIXED shortlist m,
    * widening nprobe can lower BOTH tiers (more candidates ranked by
    * the same distorted estimates dilute the shortlist). On this
    * synthetic near-random corpus the census reads exactly that —
    * recall is quantizer-limited, not probe-limited, so the right
    * deployment action is retraining/refining the quantizer (the
    * [[retrainIvfPqIndex]] path) or widening m, not more probes. That
    * non-obvious reading is what the census is FOR. One row per
    * (nprobe, serve): query count, mean and worst-query recall
    * against exact-L2 truth.
    *
    * Scale shape: the truth pass is one exact scan (the price of
    * ground truth, shared across all settings via localCheckpoint);
    * each setting's serve is the standard nprobe-bounded ADC plan; the
    * grading joins are k-bounded list-vs-list; the census is
    * |settings| rows. Determinism: hit counts are exact integers, each
    * census divides integer sums once, display-rounded.
    */
  def ivfPqTuneCensus(embeddings: DataFrame, nQueries: Int = 20,
                      k: Int = 10, nprobes: Seq[Int] = Seq(1, 2, 4),
                      m: Int = 30, trainIters: Int = 2): DataFrame = {
    val truth = graft.CacheRegistry.trackCheckpoint(
      exactL2TopK(embeddings, nQueries, k)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint())
    def grade(list: DataFrame, np: Int, serve: String): DataFrame =
      truth
        .join(list.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .agg(count(lit(1)).as("n_queries"),
          round(sum(col("n_hit")).cast("double") /
            (count(lit(1)) * lit(k)).cast("double"), 6).as("mean_recall"),
          round(min(col("n_hit")).cast("double") / lit(k.toDouble), 6)
            .as("min_recall"))
        .select(lit(np).as("nprobe"), lit(serve).as("serve"),
          col("n_queries"), col("mean_recall"), col("min_recall"))
    // ONE shared index-side chain (r17): the codebook, assignments,
    // codes and ADC tables are nprobe-independent, so they are derived
    // once and every (nprobe, serve) setting scores from them — the
    // composition each setting runs is otherwise verbatim
    // ivfPqSearch / ivfPqRerankSearch (same rankedTopK + exactRerank).
    val arts = ivfPqArtifacts(embeddings, nQueries, trainIters)
    nprobes.flatMap { np =>
      val scored = ivfPqScoredFrom(arts, nQueries, np)
      Seq(
        grade(rankedTopK(scored, k, "est_d2", sc => -sc), np, "adc"),
        grade(exactRerankFrom(
            rankedTopK(scored, m, "est_d2", sc => -sc)
              .select(col("query_id"), col("neighbor_id")),
            arts.pts.select(col("vec_id"), col("emb")), nQueries, k),
          np, "adc_rerank"))
    }.reduce(_ unionByName _).orderBy("nprobe", "serve")
  }

  /** FULL SERVING STACK: IVF-PQ candidate generation + exact re-ranking —
    * [[ivfPqSearch]]'s bounded-candidate ADC scoring kept to the top `m`
    * estimates per query, refined by [[exactRerank]]'s raw-vector fetch.
    * This is the complete production ANN serving plan: coarse cells bound
    * the scan, codes bound the bytes, and the m-row shortlist bounds the
    * random-access reads — each stage's cost independent of corpus size
    * except the code scan, which is nprobe × cell occupancy.
    */
  def ivfPqRerankSearch(embeddings: DataFrame, nQueries: Int, k: Int,
                        m: Int = 30, nprobe: Int = 2,
                        trainIters: Int = 2): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    val shortlist =
      rankedTopK(ivfPqScored(embeddings, nQueries, nprobe, trainIters),
        m, "est_d2", sc => -sc)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(shortlist, embeddings, nQueries, k)
  }

  /** CHUNK-LEVEL RAG RETRIEVAL end-to-end — the composition a retrieval
    * pipeline runs daily and the reason chunkDocuments emits `chunk_hash`:
    * documents → sliding-window chunks (TextAnalysis.chunkDocumentsUnordered)
    * → per-chunk embedding → IVF-PQ index → two-stage search → hits WITH
    * PROVENANCE: each result row carries the source (doc_id, chunk_id,
    * start_tok, n_tok) span, so a generator can quote exactly the text it
    * retrieved. Queries are the chunks of the first `nQueryDocs`
    * documents (a held-out "question" set at test scale).
    *
    * The embedding is hash-DERIVED (md5Hash60 of chunk_hash per
    * component, scaled to [-1,1] at 6 decimals) — the deterministic
    * stand-in this sandbox uses wherever a learned model would run (the
    * same device as the driver's synthetic fixtures): cross-engine
    * reproducible, so the ENTIRE pipeline chunk → vector → trained
    * coarse quantizer → PQ codes → ADC → exact re-rank hash-matches the
    * DuckDB oracle. Swapping in a real encoder changes one `select`.
    *
    * vec_id is the composite doc_id·10⁶ + chunk_id (chunks per doc are
    * corpus-bounded far below 10⁶ at any document length a chunker
    * sees; a production key would be the same composite over a wider
    * split). Scale shape: chunking and embedding are map-only over
    * documents; everything after is [[ivfPqRerankSearch]]'s serving
    * plan — cells bound the scan, codes bound the bytes, the m-row
    * shortlist bounds the raw-vector reads; the final provenance join is
    * a skinny broadcast-sized (|Q|·k) hash join against the chunk table.
    */
  def ragRetrieve(documents: DataFrame, k: Int = 5, m: Int = 15,
                  nprobe: Int = 2, trainIters: Int = 2,
                  size: Int = 64, stride: Int = 48,
                  dims: Int = 8, nLabels: Int = 8,
                  nQueryDocs: Int = 10,
                  encoder: Option[DataFrame => DataFrame] = None): DataFrame =
    ragRetrieveUnordered(documents, k, m, nprobe, trainIters, size, stride,
      dims, nLabels, nQueryDocs, encoder)
      .orderBy("q_doc_id", "q_chunk_id", "rank")

  /** Unordered form for composition ([[ragDocRetrieve]]).
    *
    * `encoder` is the EMBEDDING SEAM: a chunks-frame → (vec_id, label,
    * embedding) transform (the same injection pattern as the Kinesis
    * source seam). None means the hash-derived stand-in
    * ([[chunkEmbeddingsFrom]]); a real learned encoder drops in here
    * without touching anything downstream — the index build, the
    * serving chain, and the provenance join never see which encoder
    * produced the vectors.
    */
  private[graft] def ragRetrieveUnordered(documents: DataFrame, k: Int,
      m: Int, nprobe: Int, trainIters: Int, size: Int, stride: Int,
      dims: Int, nLabels: Int, nQueryDocs: Int,
      encoder: Option[DataFrame => DataFrame] = None): DataFrame = {
    val chunks = graft.operators.TextAnalysis
      .chunkDocumentsUnordered(documents, size, stride)
      .withColumn("vec_id",
        col("doc_id") * lit(1000000L) + col("chunk_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val emb = encoder
      .getOrElse((c: DataFrame) => chunkEmbeddingsFrom(c, dims, nLabels))
      .apply(chunks)
    val hits = ivfPqRerankSearch(emb, nQueries = nQueryDocs * 1000000,
      k = k, m = m, nprobe = nprobe, trainIters = trainIters)
    ragProvenance(hits, chunks)
  }

  /** The provenance tail shared by the inline and from-artifacts RAG
    * serves: hits joined back to the chunk table for (doc_id, chunk_id,
    * start_tok, n_tok) spans, query ids split into (q_doc_id,
    * q_chunk_id). A skinny broadcast-sized (|Q|·k) hash join.
    */
  private[graft] def ragProvenance(hits: DataFrame,
                                   chunks: DataFrame): DataFrame = {
    val prov = chunks.select(col("vec_id").as("nid"), col("doc_id"),
      col("chunk_id"), col("start_tok"), col("n_tok"))
    hits.join(prov, col("neighbor_id") === col("nid"))
      .select(
        expr("query_id DIV 1000000").as("q_doc_id"),
        pmod(col("query_id"), lit(1000000L)).as("q_chunk_id"),
        col("rank"), col("doc_id"), col("chunk_id"),
        col("start_tok"), col("n_tok"), col("d2"))
  }

  /** The DEPLOYED RAG stack end-to-end FROM ARTIFACTS — the composition
    * a retrieval deployment actually runs, chaining every lifecycle
    * piece this library provides: chunk the corpus, embed (the
    * [[ragRetrieve]] encoder stand-in), build the persisted IVF-PQ
    * index to files ([[buildIvfPqIndex]]), then serve the query chunks
    * through the from-files shortlist + exact re-rank
    * ([[searchIvfPqIndexRerank]]) and attach provenance. Shares
    * q_rag_e2e's oracle verbatim: the from-artifacts RAG serve must
    * lose nothing vs the inline chain — the q_ivfpq_saved_rerank
    * round-trip statement lifted to the whole RAG plan.
    */
  def ragSavedRoundtrip(documents: DataFrame, k: Int = 5, m: Int = 15,
                        nprobe: Int = 2, trainIters: Int = 2,
                        size: Int = 64, stride: Int = 48,
                        dims: Int = 8, nLabels: Int = 8,
                        nQueryDocs: Int = 10): DataFrame =
    ragSavedUnordered(documents, k, m, nprobe, trainIters, size, stride,
      dims, nLabels, nQueryDocs)
      .orderBy("q_doc_id", "q_chunk_id", "rank")

  /** Unordered form for composition ([[ragSavedDocRetrieve]]). */
  private def ragSavedUnordered(documents: DataFrame, k: Int, m: Int,
      nprobe: Int, trainIters: Int, size: Int, stride: Int,
      dims: Int, nLabels: Int, nQueryDocs: Int): DataFrame = {
    val spark = documents.sparkSession
    val chunks = graft.operators.TextAnalysis
      .chunkDocumentsUnordered(documents, size, stride)
      .withColumn("vec_id",
        col("doc_id") * lit(1000000L) + col("chunk_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val emb = chunkEmbeddingsFrom(chunks, dims, nLabels)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val dir = newIndexDir()
    buildIvfPqIndex(emb, dir, trainIters)
    val hits = searchIvfPqIndexRerank(spark, dir, emb,
      nQueries = nQueryDocs * 1000000, k = k, m = m, nprobe = nprobe)
    ragProvenance(hits, chunks)
  }

  /** Parent-document retrieval over the FROM-ARTIFACTS serve — the
    * [[ragDocRetrieve]] collapse composed onto [[ragSavedRoundtrip]]'s
    * chain, completing the from-artifacts family: shares q_rag_docs'
    * oracle (the from-files chunk hits are value-identical to inline,
    * so their collapse is too).
    */
  def ragSavedDocRetrieve(documents: DataFrame, k: Int = 5, m: Int = 15,
                          nprobe: Int = 2, trainIters: Int = 2,
                          size: Int = 64, stride: Int = 48,
                          dims: Int = 8, nLabels: Int = 8,
                          nQueryDocs: Int = 10): DataFrame = {
    val w = Window.partitionBy("q_doc_id", "q_chunk_id")
      .orderBy(col("best_d2"), col("doc_id"))
    ragSavedUnordered(documents, k, m, nprobe, trainIters, size, stride,
        dims, nLabels, nQueryDocs)
      .groupBy("q_doc_id", "q_chunk_id", "doc_id")
      .agg(min(col("d2")).as("best_d2"),
           count(lit(1)).as("n_chunk_hits"))
      .withColumn("doc_rank", row_number().over(w).cast("long"))
      .orderBy("q_doc_id", "q_chunk_id", "doc_rank")
  }

  /** PARENT-DOCUMENT retrieval — the standard RAG post-step over chunk
    * hits: each query's top-k CHUNK hits collapse to documents (a doc's
    * score is its best chunk's distance; its chunk-hit count is the
    * corroboration signal), re-ranked per query by (best_d2, doc_id).
    * This is "retrieve chunks, hand the generator whole documents" —
    * parent-document / coarse-to-fine retrieval.
    *
    * Scale shape: everything after [[ragRetrieveUnordered]] is a hash
    * aggregation on (query, doc) plus a per-QUERY-chunk rank window —
    * the window key is the query id, high-cardinality by construction
    * (one partition per query chunk, ≤k rows each), so unlike the
    * domain windows the grouped-prefix device replaced, this one is
    * already embarrassingly parallel.
    */
  def ragDocRetrieve(documents: DataFrame, k: Int = 5, m: Int = 15,
                     nprobe: Int = 2, trainIters: Int = 2,
                     size: Int = 64, stride: Int = 48,
                     dims: Int = 8, nLabels: Int = 8,
                     nQueryDocs: Int = 10): DataFrame = {
    val w = Window.partitionBy("q_doc_id", "q_chunk_id")
      .orderBy(col("best_d2"), col("doc_id"))
    ragRetrieveUnordered(documents, k, m, nprobe, trainIters, size, stride,
        dims, nLabels, nQueryDocs)
      .groupBy("q_doc_id", "q_chunk_id", "doc_id")
      .agg(min(col("d2")).as("best_d2"),
           count(lit(1)).as("n_chunk_hits"))
      .withColumn("doc_rank", row_number().over(w).cast("long"))
      .orderBy("q_doc_id", "q_chunk_id", "doc_rank")
  }

  /** PERSISTED-INDEX build — the missing half of the serving lifecycle:
    * a production ANN system trains its index OFFLINE, writes the
    * artifacts, and the serving tier reads them — it never re-derives
    * codebooks per query. Writes the artifacts of the composed
    * IVF-PQ index as parquet under `dir`:
    *
    *   meta/   index metadata (vector dimensionality d)
    *   cents/  trained coarse codebook (clabel, cvec, cnorm2)
    *   cells/  vec_id → (coarse cell, label, gen) — the inverted lists,
    *           carrying the vector's filterable metadata (label) the way
    *           production vector stores inline filter attributes next to
    *           the postings: a metadata predicate then prunes candidates
    *           as a pushed-down scan filter, no join against an external
    *           metadata table at serve time
    *   cb1|cb2/ PQ sub-codebooks per vector half
    *   codes/  vec_id → (code1, code2, gen)
    *
    * `gen` is the write generation: 0 at build, the caller's generation
    * for [[appendToIvfPqIndex]] appends. [[deleteFromIvfPqIndex]]
    * tombstones are (vec_id, upto_gen) pairs — a tombstone kills every
    * generation of the id up to and including upto_gen, so an upsert
    * (tombstone at gen−1 + append at gen) replaces without a rewrite.
    *
    * Artifact sizes: meta is one row; cents/cb1/cb2 are codebook-sized;
    * cells/codes are one skinny row per vector (a few ints/longs) — the
    * bytes-per-code scale economics that make PQ indexes deployable.
    * Doubles round-trip parquet bit-exactly, so [[searchIvfPqIndex]]
    * over these files is value-identical to the inline [[ivfPqSearch]]
    * and the round-trip query shares its oracle.
    */
  def buildIvfPqIndex(embeddings: DataFrame, dir: String,
                      trainIters: Int = 2): Unit =
    // Every artifact write below happens inside this call, so the
    // narrow-cache scope (r18) covers exactly this build's caches: the
    // per-iteration codebook persists and the two sub-codebooks are
    // codebook-sized frames re-read by every assignment/encode stage —
    // at the un-coalesced session width each re-read was a
    // session-width task wave over KBs.
    graft.Width.scoped(embeddings.sparkSession,
        graft.Width.NarrowCachedPlans) {
      buildIvfPqIndexBody(embeddings, dir, trainIters)
    }

  private def buildIvfPqIndexBody(embeddings: DataFrame, dir: String,
                                  trainIters: Int): Unit = {
    val spark = embeddings.sparkSession
    // dimensionality is INDEX metadata, fixed at build time — the serve
    // path must never infer the codebook half-split from whatever query
    // frame it is handed (an empty one has no head row; a differently-
    // sized one would silently mis-split the saved sub-codebooks)
    // ONE shared points frame for the whole build (r17): codebook
    // training (one assignment scan per Lloyd iteration), the final cell
    // assignment, and the PQ base each re-read and re-SHUFFLED the input
    // without it — 4 corpus shuffles per build became 1 shuffle + cached
    // reads, with identical arithmetic at every step.
    val pts = pointsOf(embeddings)
    val d = pts.select(size(col("emb"))).head().getInt(0)
    spark.range(1).select(lit(d).as("d"))
      .write.mode("overwrite").parquet(s"$dir/meta")
    val cents = lloydChainFrom(pts, trainIters)._2
    cents.write.mode("overwrite").parquet(s"$dir/cents")
    assignedFromPoints(pts, cents).select("vec_id", "assigned", "label")
      .withColumn("gen", lit(0L))
      .write.mode("overwrite").partitionBy("gen").parquet(s"$dir/cells")
    val base = pqBaseFrom(pts, d)
    val cb1 = subCodebook(base, "e1")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val cb2 = subCodebook(base, "e2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    cb1.write.mode("overwrite").parquet(s"$dir/cb1")
    cb2.write.mode("overwrite").parquet(s"$dir/cb2")
    assignHalf(base, "e1", cb1, "code1")
      .join(assignHalf(base, "e2", cb2, "code2"), "vec_id")
      .withColumn("gen", lit(0L))
      .write.mode("overwrite").partitionBy("gen").parquet(s"$dir/codes")
  }

  /** Serve top-k from a [[buildIvfPqIndex]] directory: probe the saved
    * coarse codebook, build the per-query ADC tables from the saved
    * sub-codebooks, and score ONLY the probed cells' members from the
    * saved codes — the exact candidate/lookup joins of [[ivfPqSearch]],
    * reading artifacts instead of deriving them. `queries` carries raw
    * (query_id, embedding) vectors; a query whose id exists in the index
    * is excluded from its own candidates (self-match guard). The
    * half-split comes from the meta artifact, never the query frame.
    * [[deleteFromIvfPqIndex]] tombstones, when present, are anti-joined
    * out of the candidate set before any code is scored, and an
    * optional `candidateFilter` predicate over the cells artifact's
    * inline metadata prunes candidates on the scan (same device as
    * [[searchIvfPqIndexRerank]], for serves that skip the re-rank).
    */
  def searchIvfPqIndex(spark: SparkSession, dir: String,
                       queries: DataFrame, k: Int,
                       nprobe: Int = 2,
                       candidateFilter: Option[Column] = None): DataFrame =
    rankedTopK(savedIndexScored(spark, dir, queries, nprobe, candidateFilter),
      k, "est_d2", sc => -sc)

  /** The deployed serve plan: [[searchIvfPqIndex]]'s from-files ADC
    * scoring kept to the top `m` candidates per query, refined by
    * [[exactRerank]]'s raw-vector fetch against the serving system's
    * vector store (`vectors`: the raw (vec_id, embedding) table the
    * index was built from), with an optional metadata predicate
    * bounding the CANDIDATE set between cell assignment and scoring
    * (the [[ivfSearchFiltered]] filter-then-rank device — dropping
    * after the top-k would under-fill k). Queries are the standard
    * `query_id < nQueries` slice of the vector store.
    *
    * The predicate evaluates against the CELLS artifact, which carries
    * the vector's filterable metadata (label) inline — so the filter is
    * a pushed-down scan predicate on the inverted lists, not a join
    * against an external metadata table: filtered serves scan strictly
    * fewer rows AND add zero shuffles (a 16×-amplified run caught the
    * earlier semi-join formulation costing more than the rows it
    * removed at small scale).
    *
    * Scale shape: everything [[searchIvfPqIndex]] guarantees, plus the
    * per-row candidate predicate, and the re-rank touches |Q|·m raw
    * vectors — the same bounded random-access read as the inline
    * [[ivfPqRerankSearch]].
    */
  def searchIvfPqIndexRerank(spark: SparkSession, dir: String,
                             vectors: DataFrame, nQueries: Int, k: Int,
                             m: Int = 30, nprobe: Int = 2,
                             candidateFilter: Option[Column] = None)
      : DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    val queries = vectors.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val shortlist =
      rankedTopK(
        savedIndexScored(spark, dir, queries, nprobe, candidateFilter),
        m, "est_d2", sc => -sc)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(shortlist, vectors, nQueries, k)
  }

  /** The saved-index serve for EXTERNAL query vectors ranked by cosine:
    * [[searchIvfPqIndex]]'s from-files ADC scoring kept to the top `m`
    * candidates per query, refined by an exact-cosine re-rank against
    * the raw vector store — the serve plan a cross-modal (or any
    * out-of-corpus-query) deployment runs, where the emitted contract
    * is similarity, not distance. `queries` carries raw (query_id,
    * embedding) vectors whose ids must not collide with vec_ids
    * (callers offset; the ADC stage's self-match guard compares ids).
    * Scale shape: identical to [[searchIvfPqIndexRerank]] — nprobe-cell
    * candidates, codes on the wire, |Q|·m raw vectors in the re-rank.
    */
  def searchIvfPqIndexCosineRerank(spark: SparkSession, dir: String,
                                   vectors: DataFrame, queries: DataFrame,
                                   k: Int, m: Int = 30,
                                   nprobe: Int = 2): DataFrame = {
    require(m >= k, s"shortlist m=$m must be >= k=$k")
    val shortlist =
      rankedTopK(savedIndexScored(spark, dir, queries, nprobe, None),
        m, "est_d2", sc => -sc)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = vectors.repartition(col("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))
    val q = queries.select(col("query_id").as("qid"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", l2Norm(col("q_emb")))
    val exact = shortlist
      .join(vecs, col("neighbor_id") === col("vec_id"))
      .join(broadcast(q), col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        (dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm")))
          .as("s"))
    rankedTopK(exact, k, "sim")
  }

  /** From-files ADC scorer shared by the saved-index serves: candidates
    * from the saved cells (probed cells only, minus tombstones, minus
    * self-matches, minus rows failing the optional metadata predicate —
    * evaluated per-row on the cells scan), scored from the saved codes
    * via broadcast per-query lookup tables.
    */
  private def savedIndexScored(spark: SparkSession, dir: String,
                               queries: DataFrame, nprobe: Int,
                               candFilter: Option[Column]): DataFrame = {
    val cents = spark.read.parquet(s"$dir/cents")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val cb1 = spark.read.parquet(s"$dir/cb1")
    val cb2 = spark.read.parquet(s"$dir/cb2")
    val cells = liveRows(spark, dir, s"$dir/cells")
    val codes = spark.read.parquet(s"$dir/codes")
    val d = spark.read.parquet(s"$dir/meta").head().getInt(0)
    val h = d / 2
    val q = queries.select(col("query_id"),
        asDouble(col("embedding")).as("q_emb"),
        asDouble(slice(col("embedding"), 1, h)).as("q1h"),
        asDouble(slice(col("embedding"), h + 1, d - h)).as("q2h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val probes = nearestCells(q.select(col("query_id"), col("q_emb")),
        cents, nprobe)
      .select(col("query_id"), col("clabel").as("assigned"))
    def lookup(half: String, cb: DataFrame, qCol: String, cCol: String,
               out: String): DataFrame =
      q.select(col("query_id").as(qCol), col(half).as("qh"))
        .crossJoin(broadcast(cb))
        .select(col(qCol), col("clabel").as(cCol),
          (dot(col("qh"), col("qh")) + cellScore(col("qh"))).as(out))
    val d1 = lookup("q1h", cb1, "q1", "c1", "d1")
    val d2 = lookup("q2h", cb2, "q2", "c2", "d2")
    val candBase = candFilter.fold(cells)(cells.filter)
      .join(broadcast(probes), Seq("assigned"))
      .filter(col("vec_id") =!= col("query_id"))
    candBase
      .select(col("vec_id"), col("gen"), col("query_id"))
      .join(codes, Seq("vec_id", "gen"))
      .join(broadcast(d1),
        col("code1") === col("c1") && col("query_id") === col("q1"))
      .join(broadcast(d2),
        col("code2") === col("c2") && col("query_id") === col("q2"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (-(col("d1") + col("d2"))).as("s"))
  }

  /** The saved rows of `path` minus any [[deleteFromIvfPqIndex]]
    * tombstones: a row dies when a tombstone names its vec_id with
    * upto_gen at or past the row's generation. The tombstone set is
    * delete-sized, so the anti-join broadcasts.
    */
  private[graft] def liveRows(spark: SparkSession, dir: String,
                              path: String): DataFrame = {
    val rows = spark.read.parquet(path)
    val tombPath = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tombPath)) rows
    else {
      val tombs = broadcast(spark.read.parquet(s"$dir/tombstones")
        .select(col("vec_id").as("_tvid"), col("upto_gen")))
      rows.join(tombs,
        col("vec_id") === col("_tvid") && col("gen") <= col("upto_gen"),
        "left_anti")
    }
  }

  /** Index DELETE — the takedown/re-crawl path a production store runs
    * without rebuilding: append (vec_id, upto_gen) tombstones next to
    * the per-vector artifacts. The serve path anti-joins them before
    * scoring; [[compactIvfPqIndex]] folds them into a physical rewrite.
    * `upto_gen` defaults to killing every existing generation; an
    * upsert passes gen−1 so its own subsequent append survives.
    * Cost: one delete-set-sized parquet append, nothing else touched.
    */
  def deleteFromIvfPqIndex(ids: DataFrame, dir: String,
                           uptoGen: Long = Long.MaxValue): Unit =
    ids.select(col("vec_id"), lit(uptoGen).as("upto_gen"))
      .write.mode("append").parquet(s"$dir/tombstones")

  /** Index COMPACTION: physically rewrite cells/codes minus the
    * accumulated tombstones, then drop the tombstone file — the
    * periodic maintenance that keeps the serve-path anti-join set
    * bounded. The localCheckpoint materializes the survivor set before
    * the overwrite reads the files it replaces (the chunk-store upsert
    * discipline). Serve results are identical before and after.
    */
  def compactIvfPqIndex(spark: SparkSession, dir: String): Unit = {
    val tombPath = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tombPath)) return
    for (name <- Seq("cells", "codes")) {
      val kept = liveRows(spark, dir, s"$dir/$name").localCheckpoint()
      kept.write.mode("overwrite").partitionBy("gen").parquet(s"$dir/$name")
      // the write above is the checkpoint's only consumer — release its
      // blocks now instead of pinning them until RDD GC (r18)
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(kept)
    }
    fs.delete(tombPath, true)
  }

  /** INCREMENTAL index update — append WITHOUT retrain, the standard
    * maintenance mode of a deployed ANN index (retraining quantizers on
    * every arrival would invalidate all existing codes; systems freeze
    * the codebooks and re-train offline on drift): new vectors are
    * assigned to the SAVED coarse codebook and encoded against the SAVED
    * sub-codebooks, and only the two per-vector artifacts (cells, codes)
    * grow — codebook artifacts are read, never written.
    *
    * Scale shape: one broadcast-argmin pass per quantizer over the new
    * vectors only; the appends are blind parquet writes. Cost is
    * new-data-linear and touches nothing existing. `gen` stamps the
    * write generation (pass the batch/epoch number): an upsert is a
    * [[deleteFromIvfPqIndex]] tombstone at gen−1 plus this append. The
    * write lands in the gen=N partition directory via dynamic partition
    * overwrite, so a crash-replayed append of the same generation
    * rewrites the same rows instead of duplicating them — the same
    * idempotent-sink discipline as the streaming batch=N dirs.
    */
  def appendToIvfPqIndex(newVectors: DataFrame, dir: String,
                         gen: Long = 1L): Unit =
    // eager like the build — both artifact writes land inside, so the
    // scope covers exactly this append's caches (the saved-codebook
    // re-reads)
    graft.Width.scoped(newVectors.sparkSession,
        graft.Width.NarrowCachedPlans) {
      appendToIvfPqIndexBody(newVectors, dir, gen)
    }

  private def appendToIvfPqIndexBody(newVectors: DataFrame, dir: String,
                                     gen: Long): Unit = {
    val spark = newVectors.sparkSession
    // one shared points frame for both per-vector artifacts (r17), and
    // the half-split comes from the META artifact — dimensionality is
    // index metadata fixed at build time (the searchIvfPqIndex rule);
    // reading it replaces a head() scan of the batch
    val pts = pointsOf(newVectors)
    val d = spark.read.parquet(s"$dir/meta").head().getInt(0)
    val cents = spark.read.parquet(s"$dir/cents")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    assignedFromPoints(pts, cents).select("vec_id", "assigned", "label")
      .withColumn("gen", lit(gen))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("gen").parquet(s"$dir/cells")
    val base = pqBaseFrom(pts, d)
    val cb1 = spark.read.parquet(s"$dir/cb1")
    val cb2 = spark.read.parquet(s"$dir/cb2")
    assignHalf(base, "e1", cb1, "code1")
      .join(assignHalf(base, "e2", cb2, "code2"), "vec_id")
      .withColumn("gen", lit(gen))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("gen").parquet(s"$dir/codes")
  }

  /** Recall@k measured over the FULL index lifecycle (q_ann_recall_
    * lifecycle): build on the old slice, frozen-append the rest,
    * tombstone-delete a slice of the appended generation, compact, then
    * serve FROM THE FILES and grade against exact-L2 ground truth over
    * the live corpus — the measurement that catches the lifecycle bugs
    * production actually hits (a tombstone not honored, a compaction
    * dropping the wrong rows, an append generation lost: each shows up
    * as recall moving when it must not). The deleted slice lives
    * entirely inside the appended generation, so the lifecycle index is
    * value-identical to one where those vectors were never appended —
    * SimilaritySpec asserts exactly that equality; here the recall
    * census is the cross-engine artifact. Cost shape: the lifecycle
    * stages as documented on each operator, plus the one exact scan
    * that is the price of ground truth.
    */
  def annRecallLifecycle(spark: SparkSession, sfDir: String,
                         splitId: Long = 100, nQueries: Int = 20,
                         k: Int = 10, nprobe: Int = 2,
                         trainIters: Int = 2): DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    val delPred = col("vec_id") % 10 === 3 &&
      col("vec_id") >= nQueries && col("vec_id") < splitId
    buildIvfPqIndex(emb.filter(col("vec_id") >= splitId), dir, trainIters)
    appendToIvfPqIndex(emb.filter(col("vec_id") < splitId), dir, gen = 1L)
    deleteFromIvfPqIndex(emb.filter(delPred).select(col("vec_id")), dir)
    compactIvfPqIndex(spark, dir)
    val served = searchIvfPqIndex(spark, dir,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k, nprobe)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val truth = exactL2TopK(emb.filter(!delPred), nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    truth.join(served, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        round(col("n_hit") / lit(k.toDouble), 6).as("recall"))
      .orderBy("query_id")
  }

  /** Per-generation assignment distortion of a saved index — the DRIFT
    * SIGNAL a production store monitors to decide when to retrain:
    * vectors appended against frozen codebooks ([[appendToIvfPqIndex]])
    * land in whatever cell is least bad, and as the corpus distribution
    * moves, their mean distance-to-assigned-centroid rises above the
    * build generation's. One broadcast join of the live cells against
    * the raw vector store and the codebook; per-row d² is quantized
    * (quant6) and averaged in exact DECIMAL per generation, so the
    * census cross-engine hash-matches. Cost: one corpus-linear pass.
    */
  def indexDrift(spark: SparkSession, dir: String,
                 vectors: DataFrame): DataFrame = {
    val cents = spark.read.parquet(s"$dir/cents")
    liveRows(spark, dir, s"$dir/cells").select("vec_id", "assigned", "gen")
      .join(vectors.select(col("vec_id"),
        asDouble(col("embedding")).as("emb")), "vec_id")
      .join(broadcast(cents), col("assigned") === col("clabel"))
      .select(col("gen").cast("long").as("gen"),
        quant6(dot(col("emb"), col("emb")) +
          (lit(-2.0) * dot(col("emb"), col("cvec")) + col("cnorm2"))).as("d2"))
      .groupBy("gen")
      .agg(count(lit(1)).as("n_vecs"),
           quant6(sum(col("d2").cast("decimal(18,6)")).cast("double")
             / count(lit(1))).as("mean_d2"))
      .orderBy("gen")
  }

  /** Index RETRAIN — the last lifecycle stage: fresh quantizers over
    * the full LIVE corpus (surviving rows of the cells artifact, minus
    * tombstones), then a complete re-encode. Appending against frozen
    * codebooks ([[appendToIvfPqIndex]]) is the cheap steady-state;
    * once [[indexDrift]] shows appended generations drifting, retrain
    * restores codebook fit at the cost of one full rebuild — exactly
    * [[buildIvfPqIndex]] over the live slice of the caller's vector
    * store (the raw vectors never live in the index; production keeps
    * them in the serving store the re-rank already reads). The
    * generation counter RESETS to 0: every surviving vector is
    * re-encoded into the new build generation, accumulated tombstones
    * are folded in and dropped (retrain subsumes [[compactIvfPqIndex]]).
    * The live set is localCheckpoint-materialized before the rebuild
    * overwrites the artifacts it was derived from (the established
    * self-overwrite discipline).
    */
  def retrainIvfPqIndex(spark: SparkSession, dir: String,
                        vectors: DataFrame, trainIters: Int = 2): Unit = {
    val liveIds = liveRows(spark, dir, s"$dir/cells").select("vec_id")
    val corpus = vectors.join(liveIds, Seq("vec_id"), "left_semi")
      .localCheckpoint()
    buildIvfPqIndex(corpus, dir, trainIters)
    // the rebuild's artifact writes above are the checkpoint's only
    // consumers — release its blocks now (r18)
    org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(corpus)
    val tombPath = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tombPath)) fs.delete(tombPath, true)
  }

  /** Oracle-facing drift census: build on the vec_id >= `splitId`
    * slice, append the rest against the frozen codebooks, then measure
    * [[indexDrift]] — generation 1's mean distortion exceeding
    * generation 0's is the retrain trigger in numbers.
    */
  def ivfPqDriftRoundtrip(spark: SparkSession, sfDir: String,
                          splitId: Long = 100, trainIters: Int = 2)
      : DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    buildIvfPqIndex(emb.filter(col("vec_id") >= splitId), dir, trainIters)
    appendToIvfPqIndex(emb.filter(col("vec_id") < splitId), dir, gen = 1L)
    indexDrift(spark, dir, emb)
  }

  /** Oracle-facing retrain round-trip: the FULL lifecycle — build on
    * the old slice, append the rest frozen, tombstone a deleted slice,
    * then retrain over the live corpus and serve. The served results
    * must equal the inline chain over embeddings-minus-deleted (fresh
    * quantizers trained on exactly the live corpus), which is what the
    * oracle computes — proving retrain leaves zero trace of the frozen
    * generations, the tombstones, or the pre-drift codebooks.
    */
  def ivfPqRetrainRoundtrip(spark: SparkSession, sfDir: String,
                            splitId: Long = 100, nQueries: Int = 20,
                            k: Int = 10, nprobe: Int = 2,
                            trainIters: Int = 2): DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    buildIvfPqIndex(emb.filter(col("vec_id") >= splitId), dir, trainIters)
    appendToIvfPqIndex(emb.filter(col("vec_id") < splitId), dir, gen = 1L)
    deleteFromIvfPqIndex(
      emb.filter(col("vec_id") % 10 === 3 && col("vec_id") >= nQueries)
        .select(col("vec_id")),
      dir)
    retrainIvfPqIndex(spark, dir, emb, trainIters)
    searchIvfPqIndex(spark, dir,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k, nprobe)
  }

  /** Per-JVM root for throwaway index artifacts, registered for
    * recursive deletion at JVM exit by ONE shared shutdown hook (one
    * hook per newIndexDir call accumulated JVM threads for the
    * session's lifetime). The root carries its own UUID so a
    * concurrently-running JVM's live indexes are never deleted; eager
    * per-call deletion stays unsafe because returned DataFrames read
    * the artifact files lazily.
    */
  private lazy val indexRoot: String = {
    val root = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_ivfpq_index_" +
        java.util.UUID.randomUUID().toString)
    val hook = new Thread(() =>
      try org.apache.commons.io.FileUtils.deleteDirectory(root)
      catch { case scala.util.control.NonFatal(_) => () })
    Runtime.getRuntime.addShutdownHook(hook)
    root.toString
  }

  /** A fresh per-invocation index directory under the shared
    * [[indexRoot]]; the full UUID removes the collision window an
    * 8-char prefix left open.
    */
  private[operators] def newIndexDir(): String =
    s"$indexRoot/${java.util.UUID.randomUUID().toString}"

  /** Oracle-facing incremental round-trip: TRAIN the index on the
    * vec_id >= `splitId` slice only, APPEND the rest against the frozen
    * codebooks, then serve the standard query set (which lives entirely
    * in the appended slice — retrieving it proves the append is live).
    * The oracle rebuilds the same frozen-codebook semantics: quantizers
    * from the old slice, cells/codes for everyone.
    */
  def ivfPqAppendRoundtrip(spark: SparkSession, sfDir: String,
                           splitId: Long = 100, nQueries: Int = 20,
                           k: Int = 10, nprobe: Int = 2,
                           trainIters: Int = 2): DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    buildIvfPqIndex(emb.filter(col("vec_id") >= splitId), dir, trainIters)
    appendToIvfPqIndex(emb.filter(col("vec_id") < splitId), dir, gen = 1L)
    searchIvfPqIndex(spark, dir,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k, nprobe)
  }

  /** Oracle-facing lifecycle round-trip: build the index from the
    * embeddings table into a fresh directory, then serve the standard
    * query set FROM THE FILES — value-identical to [[ivfPqSearch]], so
    * it shares q_ivfpq_search's oracle (the strongest possible check
    * that nothing was lost in the persist/load round-trip).
    */
  def ivfPqSavedRoundtrip(spark: SparkSession, sfDir: String,
                          nQueries: Int = 20, k: Int = 10,
                          nprobe: Int = 2, trainIters: Int = 2): DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    buildIvfPqIndex(emb, dir, trainIters)
    searchIvfPqIndex(spark, dir,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k, nprobe)
  }

  /** Oracle-facing DELETE round-trip: build from the full embeddings
    * table, tombstone a deterministic slice (`vec_id % 10 = 3` outside
    * the query set), and serve — results must equal the inline search
    * over embeddings-minus-deleted, which is what the oracle computes.
    * `compact` folds the tombstones into a physical rewrite first; the
    * result is identical either way (SimilaritySpec asserts both).
    */
  def ivfPqDeleteRoundtrip(spark: SparkSession, sfDir: String,
                           nQueries: Int = 20, k: Int = 10,
                           nprobe: Int = 2, trainIters: Int = 2,
                           compact: Boolean = false): DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    buildIvfPqIndex(emb, dir, trainIters)
    deleteFromIvfPqIndex(
      emb.filter(col("vec_id") % 10 === 3 && col("vec_id") >= nQueries)
        .select(col("vec_id")),
      dir)
    if (compact) compactIvfPqIndex(spark, dir)
    searchIvfPqIndex(spark, dir,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k, nprobe)
  }

  /** Oracle-facing serve-parity round-trip: build, then run the
    * DEPLOYED serve plan from files — ADC shortlist + exact re-rank —
    * sharing q_ivfpq_rerank's oracle (the from-files chain must lose
    * nothing vs the inline serving stack).
    */
  def ivfPqSavedRerankRoundtrip(spark: SparkSession, sfDir: String,
                                nQueries: Int = 20, k: Int = 10,
                                m: Int = 30, nprobe: Int = 2,
                                trainIters: Int = 2): DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    buildIvfPqIndex(emb, dir, trainIters)
    searchIvfPqIndexRerank(spark, dir, emb, nQueries, k, m, nprobe)
  }

  /** Oracle-facing filtered serve round-trip: the deployed plan with a
    * metadata predicate (even labels) bounding the candidates between
    * cell assignment and scoring, then the exact re-rank — the
    * [[ivfSearchFiltered]] device composed onto the from-files path.
    */
  def ivfPqSavedFilteredRoundtrip(spark: SparkSession, sfDir: String,
                                  nQueries: Int = 20, k: Int = 10,
                                  m: Int = 30, nprobe: Int = 2,
                                  trainIters: Int = 2): DataFrame = {
    val dir = newIndexDir()
    val emb = graft.Tables.embeddings(spark, sfDir)
    buildIvfPqIndex(emb, dir, trainIters)
    searchIvfPqIndexRerank(spark, dir, emb, nQueries, k, m, nprobe,
      candidateFilter = Some(col("label") % 2 === 0))
  }

  /** Chunk corpus → embeddings-shaped frame (vec_id, label, embedding):
    * the composite doc_id·10⁶ + chunk_id key, an md5-derived label, and
    * the hash-derived [-1,1] 6-decimal embedding ([[ragRetrieve]]'s
    * encoder stand-in). Shared by the batch RAG stack and the streaming
    * chunk-embedding ingest so the embedding law has one definition.
    */
  def chunkEmbeddings(documents: DataFrame, size: Int = 64,
                      stride: Int = 48, dims: Int = 8,
                      nLabels: Int = 8): DataFrame =
    chunkEmbeddingsFrom(
      graft.operators.TextAnalysis.chunkDocumentsUnordered(documents, size, stride)
        .withColumn("vec_id", col("doc_id") * lit(1000000L) + col("chunk_id")),
      dims, nLabels)

  /** Doc-level embeddings by MEAN-POOLING chunk embeddings
    * (q_doc_embed): the standard coarse-retrieval / clustering
    * representation when the encoder works at chunk granularity —
    * retrieve documents by the pooled vector, then refine within the
    * winner's chunks (the q_rag_docs coarse-to-fine pattern, pushed one
    * level up). Emitted one row per (doc, dim) so the oracle hashes
    * scalars. Scale shape: posexplode → (doc, dim) hash aggregation
    * with map-side partials — no window, no collect; the per-dimension
    * sums are DECIMAL(18,6)-exact (chunk components are 6-decimal
    * rationals by the embedding law), so summation order cannot perturb
    * the pooled value across engines.
    */
  def docEmbeddings(documents: DataFrame, size: Int = 64, stride: Int = 48,
                    dims: Int = 8, nLabels: Int = 8): DataFrame =
    docEmbeddingsUnordered(documents, size, stride, dims, nLabels)
      .orderBy("doc_id", "dim")

  /** Unordered form for composition (r17): the orderBy above is
    * q_doc_embed's oracle-determinism contract ONLY, but every pooled-
    * tier composition (docVectors, docSearch, the MMR pool, the vector
    * store build) consumed it too — and a global sort's range-
    * partitioner SAMPLES its input, re-executing the whole chunk→embed→
    * pool chain a second time per consumer before the sort itself (the
    * sq8QuantizeUnordered discipline, applied to the doc tier).
    */
  def docEmbeddingsUnordered(documents: DataFrame, size: Int = 64,
                             stride: Int = 48, dims: Int = 8,
                             nLabels: Int = 8): DataFrame =
    chunkEmbeddings(documents, size, stride, dims, nLabels)
      .select(expr("vec_id DIV 1000000").as("doc_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("doc_id", "dim")
      .agg(count(lit(1)).as("n_chunks"),
           quant6(sum(col("v").cast("decimal(18,6)")).cast("double")
             / count(lit(1))).as("mean_v"))
      .select(col("doc_id"), col("dim").cast("int").as("dim"),
              col("n_chunks"), col("mean_v"))

  /** DOC-level cosine retrieval over the pooled embeddings
    * (q_doc_search): which documents are closest to each query document
    * by their mean-pooled chunk vectors — the coarse first stage of a
    * coarse-to-fine pipeline ([[docEmbeddings]] supplies the vectors,
    * [[ragRetrieve]]'s chunk stack is the fine stage). Dot products and
    * norms accumulate in exact DECIMAL (the pooled components are
    * 6-decimal rationals), so no cross-engine float summation exists;
    * the division and sqrt are then single IEEE ops on identical
    * inputs. The per-dim join against a broadcast query side is the
    * brute-force baseline shape — |Q|·dims rows broadcast, candidates
    * stream, TopKAgg bounds the shuffle to k rows per partition per
    * query.
    */
  def docSearch(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
                size: Int = 64, stride: Int = 48, dims: Int = 8,
                nLabels: Int = 8): DataFrame =
    docSearchFrom(
      docEmbeddingsUnordered(documents, size, stride, dims, nLabels)
        .select(col("doc_id"), col("dim"),
          col("mean_v").cast("decimal(18,6)").as("v")),
      nQueries, k)

  /** The cosine-retrieval core over a pooled (doc_id, dim, v) vector
    * frame — the serve path shared by the inline [[docSearch]] and the
    * from-files doc-vector store (q_hybrid_saved's vector side): a
    * persisted pooled-vector table IS the brute-force tier's whole
    * state, so serve-from-store is value-identical to inline.
    */
  def docSearchFrom(dm: DataFrame, nQueries: Long = 10,
                    k: Int = 5): DataFrame =
    rankedTopK(docScored(dm, nQueries), k, "sim")

  /** The raw cosine scorer behind [[docSearchFrom]]: (query_id, cand_id,
    * s) with s the UNROUNDED cosine — exposed because [[mmrTopK]]'s
    * greedy re-rank does arithmetic on the relevance value, and the
    * display-rounded `sim` the ranked emission carries is not the value
    * to compute with (the suite's law: round() only on values nothing
    * downstream amplifies). s is cross-engine exact by construction —
    * DECIMAL-accumulated dot and norms, one division.
    */
  private[operators] def docScored(dm: DataFrame,
                                   nQueries: Long): DataFrame = {
    val norms = dm.groupBy("doc_id")
      .agg(sqrt(sum(col("v") * col("v")).cast("double")).as("nrm"))
    val q = dm.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("dim"), col("v").as("qv"))
    val dots = dm.join(broadcast(q), Seq("dim"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("v") * col("qv")).cast("double").as("dot"))
    dots
      .join(broadcast(norms.select(col("doc_id").as("q_id"),
        col("nrm").as("q_nrm"))), "q_id")
      .join(norms, "doc_id")
      .filter(col("nrm") > 0 && col("q_nrm") > 0)
      .select(col("q_id").as("query_id"), col("doc_id").as("cand_id"),
        (col("dot") / (col("nrm") * col("q_nrm"))).as("s"))
  }

  /** [[docEmbeddings]]'s pooled vectors re-assembled into the
    * embeddings-table shape (vec_id, label, embedding) the IVF-PQ
    * lifecycle consumes — vec_id = doc_id, a doc_id-derived coarse
    * seed label, components in dim order. The pooled values are the
    * quant6 DECIMAL-exact means, so the frame is cross-engine
    * deterministic by construction. One hash aggregation over the
    * (doc, dim) rows; array_sort on the (dim, v) structs makes the
    * collect order-independent.
    */
  def docVectors(documents: DataFrame, size: Int = 64, stride: Int = 48,
                 dims: Int = 8, nLabels: Int = 8): DataFrame =
    docEmbeddingsUnordered(documents, size, stride, dims, nLabels)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_v")))).as("a"))
      .select(col("doc_id").as("vec_id"),
        (col("doc_id") % nLabels).cast("int").as("label"),
        expr("transform(a, x -> x.mean_v)").as("embedding"))

  /** Doc-tier ANN graduation (q_doc_ivfpq): the brute-force
    * [[docSearch]] baseline's pooled vectors pushed through the SAME
    * persisted IVF-PQ lifecycle the chunk tier serves from —
    * [[buildIvfPqIndex]] over [[docVectors]], then the DEPLOYED serve
    * plan ([[searchIvfPqIndexRerank]]: from-files ADC shortlist +
    * exact re-rank against the pooled-vector store — the re-rank
    * matters here because mean-pooled vectors concentrate near the
    * origin, where pure ADC distortion swamps true distances). This is
    * the "corpus outgrows brute force" path as a query: nothing
    * doc-specific exists in the index machinery; the doc tier is just
    * another embeddings-shaped frame. Scale shape: index build is
    * corpus-linear (one broadcast-argmin pass per quantizer); the
    * serve probes nprobe cells, reads codes not vectors, and touches
    * |Q|·m raw vectors in the re-rank — the |Q|·|D| dot-product join
    * of [[docSearch]] becomes nprobe-cell-bounded candidate scoring.
    * The pooled vectors are localCheckpoint-materialized once: build
    * and serve otherwise each recompute the full chunk fan-out.
    */
  def docIvfPqRoundtrip(spark: SparkSession, sfDir: String,
                        nQueries: Int = 10, k: Int = 5, m: Int = 15,
                        nprobe: Int = 2, trainIters: Int = 2): DataFrame = {
    val dir = newIndexDir()
    val dv = graft.CacheRegistry.trackCheckpoint(
      docVectors(graft.Tables.documents(spark, sfDir))
        .localCheckpoint())
    buildIvfPqIndex(dv, dir, trainIters)
    searchIvfPqIndexRerank(spark, dir, dv, nQueries, k, m, nprobe)
  }

  /** Hybrid retrieval by reciprocal-rank fusion (q_hybrid_rrf): the
    * BM25 lexical top-m ([[TextAnalysis.bm25TopK]]) and the
    * pooled-vector cosine top-m ([[docSearch]]) fused per (query,
    * candidate) as Σ 1/(c + rank) over the lists the candidate appears
    * in (Cormack et al.'s RRF, c = 60) — the deployment pattern every
    * production RAG stack runs: lexical catches exact-term matches the
    * embedding misses, the vector side catches paraphrases the lexicon
    * misses, and rank fusion needs no score calibration between the
    * two systems.
    *
    * Scale shape: both input lists are already k-bounded per query
    * (|Q|·m rows each), so the fusion full-outer join and re-rank are
    * list-sized — the expensive retrieval work happens inside the two
    * tiers, each with its own bounded plan. Determinism: 1/(60+rank)
    * is a single IEEE division on integers, the two-term sum has a
    * fixed (lexical + vector) order, and ties (same-rank singletons)
    * break on cand_id in the shared TopKAgg law.
    */
  def hybridRrf(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
                m: Int = 10, c: Double = 60.0): DataFrame =
    rrfFuse(
      graft.operators.TextAnalysis.bm25TopK(documents, nQueries, m),
      docSearch(documents, nQueries, m), k, c)

  /** The RRF fusion core over two ranked lists — shared by the inline
    * [[hybridRrf]] and the from-artifacts [[hybridSavedRoundtrip]].
    */
  private def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int,
                      c: Double): DataFrame = {
    val l = lex.select(col("query_id"), col("neighbor_id"),
      col("rank").as("lrk"))
    val v = vec.select(col("query_id"), col("neighbor_id"),
      col("rank").as("vrk"))
    val fused = l.join(v, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        (coalesce(lit(1.0) / (lit(c) + col("lrk").cast("double")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(c) + col("vrk").cast("double")), lit(0.0)))
          .as("s"))
    rankedTopK(fused, k, "rrf")
  }

  /** THREE-WAY reciprocal-rank fusion (q_hybrid_3way): BM25, Dirichlet
    * query-likelihood, and the pooled-vector cosine tier fused as
    * Σ 1/(c + rank) over however many lists each candidate appears in —
    * the N-list generalization of [[hybridRrf]] (RRF's defining
    * property: adding a ranking model to the ensemble needs no
    * calibration, just another ranked list in the union). Because the
    * number of contributing terms varies per candidate, the fixed
    * two-term addition order of the pairwise fuse no longer exists —
    * each 1/(c+rank) term is quantized (quant6) and the sum
    * accumulates as DECIMAL(18,6), so contribution order cannot
    * perturb the fused score (the suite's standard device for
    * variable-arity sums). All three tiers are bounded plans; the
    * fusion is a list-sized union + hash agg.
    */
  def hybridRrf3(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
                 m: Int = 10, c: Double = 60.0): DataFrame = {
    val lists = Seq(
      graft.operators.TextAnalysis.bm25TopK(documents, nQueries, m),
      graft.operators.TextAnalysis.qlDirichletTopK(documents, nQueries, m),
      docSearch(documents, nQueries, m))
    val tagged = lists.map(_.select(col("query_id"),
        col("neighbor_id").as("cand_id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = tagged
      .select(col("query_id"), col("cand_id"),
        quant6(lit(1.0) / (lit(c) + col("rank").cast("double"))).as("t"))
      .groupBy("query_id", "cand_id")
      .agg(sum(col("t").cast("decimal(18,6)")).cast("double").as("s"))
    rankedTopK(fused, k, "rrf3")
  }

  /** Hybrid retrieval by WEIGHTED-SUM score fusion (q_hybrid_wsum):
    * each tier's top-m scores min-max normalized within the query's
    * own list, then fused as w_lex·lex + w_vec·vec — the
    * calibration-based alternative to [[hybridRrf]]'s rank fusion
    * (weights express a tuned trust split; RRF needs no calibration
    * but cannot express one). A candidate absent from one list
    * contributes 0 from that tier — the standard convex-combination
    * convention. Degenerate lists (max = min) normalize to 1.0.
    *
    * Determinism: both input scores are already quantized ranked
    * outputs; min/max are exact selections; the normalize-and-fuse is
    * a fixed-order IEEE chain, quantized again at output. Scale
    * shape: list-sized throughout — per-query min/max aggregates
    * broadcast back onto their own k-bounded lists.
    */
  def hybridWeighted(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
                     m: Int = 10, wLex: Double = 0.3,
                     wVec: Double = 0.7): DataFrame = {
    def normed(df: DataFrame, score: String, out: String): DataFrame = {
      val mm = df.groupBy("query_id")
        .agg(min(col(score)).as("lo"), max(col(score)).as("hi"))
      df.join(broadcast(mm), "query_id")
        .withColumn(out, when(col("hi") === col("lo"), lit(1.0))
          .otherwise((col(score) - col("lo")) / (col("hi") - col("lo"))))
        .select(col("query_id"), col("neighbor_id"), col(out))
    }
    val lex = normed(graft.operators.TextAnalysis
      .bm25TopK(documents, nQueries, m), "bm25", "ln")
    val vec = normed(docSearch(documents, nQueries, m), "sim", "vn")
    val fused = lex.join(vec, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        (lit(wLex) * coalesce(col("ln"), lit(0.0)) +
         lit(wVec) * coalesce(col("vn"), lit(0.0))).as("s"))
    rankedTopK(fused, k, "wsum")
  }

  /** Hybrid retrieval AT INDEX SCALE (q_hybrid_ivfpq): the fusion a
    * 100-TB deployment actually serves — the lexical side is BM25 over
    * the posting table, the vector side is the GRADUATED doc tier
    * ([[docIvfPqRoundtrip]]'s lifecycle: pooled vectors → persisted
    * IVF-PQ index → from-files ADC shortlist → exact re-rank), fused
    * with the same RRF law as the brute-force [[hybridRrf]]. The
    * brute-force |Q|·|D| cosine pass is replaced by the
    * nprobe-cell-bounded candidate scorer; everything downstream of
    * the two ranked lists is list-sized.
    */
  def hybridIvfPq(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                  k: Int = 5, m: Int = 10, shortlist: Int = 15,
                  nprobe: Int = 2, trainIters: Int = 2,
                  c: Double = 60.0): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
    val dir = newIndexDir()
    val dv = graft.CacheRegistry.trackCheckpoint(
      docVectors(docs).localCheckpoint())
    buildIvfPqIndex(dv, dir, trainIters)
    val vec = searchIvfPqIndexRerank(spark, dir, dv, nQueries, m,
      shortlist, nprobe)
    rrfFuse(
      graft.operators.TextAnalysis.bm25TopK(docs, nQueries.toLong, m),
      vec, k, c)
  }

  /** Persist the doc-tier vector store: the pooled (doc_id, dim, v)
    * frame as parquet — the brute-force tier's whole state (the
    * IVF-PQ artifacts are the graduated tier's, q_doc_ivfpq).
    */
  def buildDocVectorStore(documents: DataFrame, dir: String,
                          size: Int = 64, stride: Int = 48, dims: Int = 8,
                          nLabels: Int = 8): Unit =
    docEmbeddingsUnordered(documents, size, stride, dims, nLabels)
      .select(col("doc_id"), col("dim"),
        col("mean_v").cast("decimal(18,6)").as("v"))
      .write.mode("overwrite").parquet(dir)

  /** DEPLOYED hybrid retrieval (q_hybrid_saved): both tiers serve from
    * persisted artifacts — BM25 from the posting store, cosine from
    * the pooled doc-vector store — and fuse with the same RRF law as
    * the inline [[hybridRrf]]. Neither serve touches raw text or
    * re-pools a vector; both stores recompute their global stats in
    * the same aggregations the inline plans run, so the deployed
    * result is value-identical to inline and shares q_hybrid_rrf's
    * oracle verbatim.
    */
  def hybridSavedRoundtrip(spark: SparkSession, documents: DataFrame,
                           nQueries: Long = 10, k: Int = 5, m: Int = 10,
                           c: Double = 60.0): DataFrame = {
    import graft.operators.TextAnalysis
    val lexDir = TextAnalysis.newStoreDir()
    val vecDir = TextAnalysis.newStoreDir()
    TextAnalysis.buildLexicalIndex(documents, lexDir)
    buildDocVectorStore(documents, vecDir)
    rrfFuse(
      TextAnalysis.searchLexicalIndex(spark, lexDir, nQueries, m),
      docSearchFrom(spark.read.parquet(vecDir).select("doc_id", "dim", "v"),
        nQueries, m),
      k, c)
  }

  /** Diversified retrieval (q_diverse_topk): the pooled-vector top-m
    * pool re-ranked under a per-language cap — at most `perLang`
    * results from any one candidate language survive, then the best k
    * by original similarity order. The cheap deterministic form of
    * result diversification (the MMR family's fixed-attribute special
    * case): a retrieval serving layer uses it to stop one dominant
    * slice of the corpus from filling the whole page.
    *
    * Scale shape: the expensive work is [[docSearch]]'s bounded plan;
    * everything here is list-sized — the |Q|·m pool BROADCASTS into
    * one streamed pass over the documents table for the lang
    * attribute (no shuffle of the corpus), and both cap/re-rank
    * windows partition on query_id over ≤m rows each.
    */
  def diverseTopK(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
                  m: Int = 20, perLang: Int = 2): DataFrame = {
    val pool = docSearch(documents, nQueries, m)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rk0"),
        col("sim"))
    val wl = Window.partitionBy("query_id", "lang").orderBy("rk0")
    val wq = Window.partitionBy("query_id").orderBy("rk0")
    documents.select(col("doc_id").as("neighbor_id"), col("lang"))
      .join(broadcast(pool), "neighbor_id")
      .withColumn("lang_rk", row_number().over(wl))
      .filter(col("lang_rk") <= perLang)
      .withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("lang"),
        col("sim"))
      .orderBy("query_id", "rank")
  }

  /** HARD-NEGATIVE mining for contrastive retriever training
    * (q_hard_negatives) — the pair-mining recipe dense-retrieval
    * training (DPR, Karpukhin et al. 2020 §4.2; ANCE) actually runs:
    * for each query document the POSITIVE is its exact-cosine nearest
    * neighbor (the semantic truth the trained model should reproduce),
    * and the HARD NEGATIVES are the top lexically-retrieved documents
    * that are NOT semantically near — BM25 rank-ordered docs outside
    * the vector top-`t`. Lexically-similar-but-semantically-far is
    * exactly the confusable region where random negatives teach
    * nothing; emitting (query, positive, negative) triples from the
    * two existing tiers is the whole mining pipeline.
    *
    * Scale shape: both tiers are the bounded retrieval plans
    * ([[TextAnalysis.bm25TopK]], [[docSearch]]); everything here is
    * list-sized — the anti-join and re-rank run over |Q|·m rows, and
    * the only windows partition on query_id over ≤m rows.
    * Determinism: both inputs are ranked chains under the shared
    * tie-break law; the negative re-rank orders by the BM25 rank
    * (already total per query).
    */
  def hardNegatives(documents: DataFrame, nQueries: Long = 10,
                    nNeg: Int = 3, t: Int = 5, m: Int = 10): DataFrame = {
    val vec = docSearch(documents, nQueries, m)
    val pos = vec.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("pos_id"))
    val vtop = vec.filter(col("rank") <= t)
      .select(col("query_id"), col("neighbor_id"))
    val lex = graft.operators.TextAnalysis.bm25TopK(documents, nQueries, m)
    val wq = Window.partitionBy("query_id").orderBy("rank")
    lex.join(vtop, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(wq).cast("long"))
      .filter(col("neg_rank") <= nNeg)
      .join(broadcast(pos), "query_id")
      .select(col("query_id"), col("pos_id"), col("neg_rank"),
        col("neighbor_id").as("neg_id"), col("bm25"))
      .orderBy("query_id", "neg_rank")
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (q_mmr_topk, Carbonell &
    * Goldstein 1998): greedy selection over the vector top-`m` pool —
    * pick argmax λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s), i.e. the most
    * relevant candidate that is least similar to everything already
    * selected. The general form of result diversification
    * ([[diverseTopK]] is its fixed-attribute special case): a serving
    * layer uses it to stop near-duplicate hits from filling the page.
    *
    * Scale shape: the expensive work is [[docSearch]]'s bounded plan;
    * the pool is |Q|·m rows, the pairwise-similarity table |Q|·m²
    * (list-sized — m is a page, not a corpus), and each of the k−1
    * greedy steps is a join + argmin over those frames. The selection
    * loop runs as k−1 chained DataFrame stages — depth k, never
    * corpus-wide. Determinism: relevance and pairwise cosines are the
    * DECIMAL-dot / exact-norm values ([[docScored]]) — bit-identical
    * cross-engine — the MMR combination is a fixed-order IEEE chain on
    * them, and every argmax breaks ties on (score DESC, cand_id).
    */
  /** `penal` is the diversity weight — nominally 1−λ, but passed as its
    * own literal because `1.0 - 0.7` is not the double `0.3`, and the
    * oracle's SQL text parses `0.3` exactly.
    */
  def mmrTopK(documents: DataFrame, nQueries: Long = 10, k: Int = 4,
              m: Int = 8, lam: Double = 0.7, penal: Double = 0.3,
              size: Int = 64, stride: Int = 48, dims: Int = 8,
              nLabels: Int = 8): DataFrame =
    // The greedy loop re-reads three LIST-SIZED caches (pool |Q|·m,
    // pairs |Q|·m², dm doc×dim) k−1 times each — at the un-coalesced
    // session width that is a 32-task scan per read per round, pure
    // floor (measured r18: 14.4 → 6.2 s at sf0.1 with the caches
    // AQE-narrowed and nothing else changed). The loop's per-round
    // localCheckpoint materializes everything inside this scope, so the
    // narrow-cache flag covers exactly these caches; values are
    // partitioning-blind (argmax via min-struct, checked by the oracle).
    graft.Width.scoped(documents.sparkSession,
        graft.Width.NarrowCachedPlans) {
      mmrTopKBody(documents, nQueries, k, m, lam, penal, size, stride,
        dims, nLabels)
    }

  private def mmrTopKBody(documents: DataFrame, nQueries: Long, k: Int,
                          m: Int, lam: Double, penal: Double,
                          size: Int, stride: Int, dims: Int,
                          nLabels: Int): DataFrame = {
    val dm = docEmbeddingsUnordered(documents, size, stride, dims, nLabels)
      .select(col("doc_id"), col("dim"),
        col("mean_v").cast("decimal(18,6)").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val scored = docScored(dm, nQueries)
    // pool selection through the bounded TopKAgg (never a corpus-wide
    // window), then the raw relevance joins back in
    val pool = rankedTopK(scored, m, "sim")
      .select(col("query_id"), col("neighbor_id").as("cand_id"))
      .join(scored, Seq("query_id", "cand_id"))
      .select(col("query_id"), col("cand_id"), col("s").as("rel"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // pairwise cosines among each query's pool members (both directions)
    val pv = pool.select(col("query_id"), col("cand_id"))
      .join(dm, col("cand_id") === col("doc_id")).drop("doc_id")
    val norms = dm.groupBy("doc_id")
      .agg(sqrt(sum(col("v") * col("v")).cast("double")).as("nrm"))
    val pairs = pv.as("a")
      .join(pv.as("b"), col("a.query_id") === col("b.query_id") &&
        col("a.dim") === col("b.dim") &&
        col("a.cand_id") =!= col("b.cand_id"))
      .groupBy(col("a.query_id").as("query_id"),
        col("a.cand_id").as("a_id"), col("b.cand_id").as("b_id"))
      .agg(sum(col("a.v") * col("b.v")).cast("double").as("pdot"))
      .join(broadcast(norms.select(col("doc_id").as("a_id"),
        col("nrm").as("a_nrm"))), "a_id")
      .join(broadcast(norms.select(col("doc_id").as("b_id"),
        col("nrm").as("b_nrm"))), "b_id")
      .select(col("query_id"), col("a_id"), col("b_id"),
        (col("pdot") / (col("a_nrm") * col("b_nrm"))).as("psim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // step 1: pure relevance argmax (empty selected set ⇒ no penalty)
    def argmax(df: DataFrame, score: String): DataFrame =
      df.groupBy("query_id")
        .agg(min(struct((-col(score)).as("ns"), col("cand_id"))).as("mx"))
        .select(col("query_id"), col("mx.cand_id").as("cand_id"),
          (-col("mx.ns")).as("score"))
    var sel = argmax(pool.select(col("query_id"), col("cand_id"),
        col("rel").as("s0")), "s0")
      .withColumn("step", lit(1L))
    var selAll = sel.select("query_id", "cand_id", "score", "step")
    for (i <- 2 to k) {
      val cand = pool
        .join(selAll.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
        .withColumnRenamed("cand_id", "a_id")
      val scoredStep = cand
        .join(pairs, Seq("query_id", "a_id"))
        .join(selAll.select(col("query_id"), col("cand_id").as("b_id")),
          Seq("query_id", "b_id"))
        .groupBy("query_id", "a_id", "rel")
        .agg(max(col("psim")).as("maxs"))
        .select(col("query_id"), col("a_id").as("cand_id"),
          (lit(lam) * col("rel") - lit(penal) * col("maxs")).as("mmr"))
      sel = argmax(scoredStep, "mmr").withColumn("step", lit(i.toLong))
      val prevAll = selAll
      selAll = selAll.unionByName(
        sel.select("query_id", "cand_id", "score", "step"))
        .localCheckpoint()
      // the new generation's eager checkpoint consumed the old one —
      // release the superseded blocks now (the fixpoint device, r18);
      // step 1's frame is not checkpoint-backed and no-ops through
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(prevAll)
    }
    graft.CacheRegistry.trackCheckpoint(selAll)
      .select(col("query_id"), col("step").as("rank"),
        col("cand_id").as("neighbor_id"), round(col("score"), 6).as("mmr"))
      .orderBy("query_id", "rank")
  }

  /** CROSS-ENCODER re-ranking seam (q_ce_rerank) — the second stage of
    * the two-stage retrieval architecture every production search stack
    * deploys: a cheap first stage maximizes recall (here the hybrid RRF
    * top-`m`), then an expensive PAIR scorer — a cross-encoder that
    * reads query and candidate together — re-orders the shortlist for
    * precision. `scorer` is the model seam (the [[ragRetrieve]] encoder
    * seam pattern, one level up): a (queryText, candText) → score
    * Column; the default is the deterministic hash stand-in this
    * sandbox uses wherever a learned model would run, so the ENTIRE
    * two-stage plan hash-matches the oracle and a real cross-encoder
    * drops in without touching retrieval, shortlist plumbing, or
    * ranking. Scale shape: the first stage is the bounded hybrid plan;
    * the re-rank touches |Q|·m pairs — the text fetch broadcasts the
    * shortlist into one pruned documents pass (never shuffles the
    * corpus), and scoring is per-row expression work on the list.
    */
  def ceRerank(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
               m: Int = 10,
               scorer: Option[(Column, Column) => Column] = None): DataFrame = {
    val standIn = (q: Column, c: Column) =>
      pmod(NearDup.md5Hash60(concat(md5(q), lit(":"), md5(c))),
        lit(1000001L)).cast("double") / lit(1e6)
    val score = scorer.getOrElse(standIn)
    val shortlist = hybridRrf(documents, nQueries, m, m)
      .select(col("query_id"), col("neighbor_id").as("cand_id"))
    val texts = documents
      .join(broadcast(shortlist.select(col("cand_id").as("doc_id"))
          .union(shortlist.select(col("query_id").as("doc_id"))).distinct()),
        "doc_id")
      .select(col("doc_id"), col("text"))
    val scored = shortlist
      .join(broadcast(texts.select(col("doc_id").as("query_id"),
        col("text").as("q_text"))), "query_id")
      .join(broadcast(texts.select(col("doc_id").as("cand_id"),
        col("text").as("c_text"))), "cand_id")
      .select(col("query_id"), col("cand_id"),
        score(col("q_text"), col("c_text")).as("s"))
    rankedTopK(scored, k, "ce")
  }

  /** Deterministic per-TERM embedding — the token-level analogue of the
    * [[chunkEmbeddingsFrom]] hash-derived stand-in: component j is
    * md5Hash60(term:j) scaled to [-1,1] at 6 decimals, so it is
    * cross-engine reproducible and a learned token encoder swaps in at
    * exactly this seam. Returns (term, e, nrm).
    */
  private def termEmbeddings(terms: DataFrame, dims: Int): DataFrame =
    terms.select(col("term"),
      array((0 until dims).map { j =>
        (pmod(graft.operators.NearDup.md5Hash60(
            concat(col("term"), lit(s":$j"))),
          lit(2000001L)) - lit(1000000L)).cast("double") / lit(1e6)
      }: _*).as("e"))
      .withColumn("nrm", l2Norm(col("e")))

  /** LATE-INTERACTION re-ranking (q_maxsim_rerank, the ColBERT device:
    * Khattab & Zaharia 2020) — the third re-ranking architecture next to
    * the bi-encoder tier (one vector per document, [[docSearch]]) and the
    * cross-encoder seam ([[ceRerank]]): each query TERM keeps its own
    * vector, and a candidate scores Σ over query terms of the MAX cosine
    * against any of its terms. Late interaction recovers term-level
    * matching the pooled bi-encoder destroys, at shortlist cost instead
    * of the cross-encoder's quadratic attention.
    *
    * Stage 1 is the shared BM25 chain ([[graft.operators.TextAnalysis
    * .bm25FromPostings]], top-`m` shortlist); stage 2 embeds the DISTINCT
    * terms of the query set and shortlist docs ([[termEmbeddings]] — the
    * hash-derived stand-in at the same seam every encoder in this library
    * uses) and runs the MaxSim sum.
    *
    * Scale shape: the term-vector table is shortlist-bounded (|Q|+|Q|·m
    * docs × ≤ doc-length distinct terms — seq-length-bounded exactly as
    * ColBERT's token matrices are), so both embedding sides broadcast;
    * the pair space is per-(query, candidate) |T_q|·|T_d| — re-rank
    * work, never corpus work. The corpus is touched only by the posting
    * scan stage 1 already does. Determinism: cosines through the quant6
    * law, per-query-term max is exact on quantized values, the MaxSim
    * sum accumulates DECIMAL(18,6); ties rank by cand_id.
    */
  def maxSimRerank(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
                   m: Int = 10, dims: Int = 8): DataFrame = {
    val tf = graft.operators.TextAnalysis.docPostings(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val shortlist = graft.operators.TextAnalysis
      .bm25FromPostings(tf, nQueries, m)
      .select(col("query_id"), col("neighbor_id").as("cand_id"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    val dterms = shortlist
      .join(tf.select(col("doc_id").as("cand_id"), col("term")), "cand_id")
    val qe = termEmbeddings(qterms.select("term").distinct(), dims)
      .select(col("term"), col("e").as("q_e"), col("nrm").as("q_nrm"))
    val de = termEmbeddings(dterms.select("term").distinct(), dims)
      .select(col("term").as("d_term"), col("e").as("d_e"),
        col("nrm").as("d_nrm"))
    val qemb = qterms.join(qe, "term").withColumnRenamed("term", "q_term")
    val scored = dterms.withColumnRenamed("term", "d_term")
      .join(broadcast(de), "d_term")
      .join(broadcast(qemb), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("q_term"),
        quant6(dot(col("q_e"), col("d_e")) /
          (col("q_nrm") * col("d_nrm"))).as("c"))
      .groupBy("query_id", "cand_id", "q_term").agg(max(col("c")).as("mx"))
      .groupBy("query_id", "cand_id")
      .agg(sum(col("mx").cast("decimal(18,6)")).cast("double").as("s"))
    rankedTopK(scored, k, "maxsim")
  }

  /** CORPUS TOPIC MAP (q_doc_topics) — unsupervised topic clustering
    * over the pooled document vectors: the trained Lloyd codebook (the
    * same k-means chain every IVF index here shares) partitions the
    * corpus into semantic clusters, and each cluster is LABELED by its
    * top-`perCluster` terms under the cluster-level rational tf·(N/df)
    * weight — the corpus cartography pass (dataset cards, mixture
    * design, drift review) a curation pipeline runs between embedding
    * and training. The embedding tier decides membership; the lexical
    * tier explains it.
    *
    * Scale shape: clustering is the codebook-broadcast Lloyd loop
    * (codebook-sized state, corpus-parallel assignment); the labeling
    * join keys postings on doc_id (corpus hash join — no broadcast
    * taken or needed); the term-rank window partitions by cluster over
    * CLUSTER-TERM rows — vocabulary-bounded, not corpus-bounded, so a
    * few clusters cannot serialize the corpus. Determinism: the Lloyd
    * chain is the established decimal-exact device; the weight is one
    * multiply one divide on exact integers (IEEE-identical), emitted
    * through the quant6 law; ties rank by term.
    */
  def docTopics(documents: DataFrame, trainIters: Int = 2,
                perCluster: Int = 3): DataFrame = {
    // shared points frame across training and assignment (r17) — the
    // buildIvfPqIndex consolidation: one shuffle of the pooled vectors
    // instead of one per Lloyd iteration plus one for the assignment.
    // pointsOf's own lazy checkpoint materializes the chunk→embed→pool
    // fan-out exactly once, so the eager dv.localCheckpoint() this used
    // to add (r17) paid one redundant materialization job and held a
    // duplicate doc-count-sized block copy (ADVICE r17) — dropped (r18).
    val pts = pointsOf(docVectors(documents))
    val cents = lloydChainFrom(pts, trainIters)._2
    val assigned = assignedFromPoints(pts, cents)
      .select(col("vec_id").as("doc_id"), col("assigned").as("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("n_docs"))
    val tf = graft.operators.TextAnalysis.docPostings(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val stats = tf.agg(count_distinct(col("doc_id")).cast("double").as("nd"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = tf.join(assigned, "doc_id")
      .groupBy("cluster", "term").agg(sum(col("tf")).as("stf"))
      .join(dfr, "term")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        col("stf").cast("double") * col("nd") / col("df").cast("double"))
    val wr = Window.partitionBy("cluster").orderBy(col("w").desc, col("term"))
    w.withColumn("term_rank", row_number().over(wr).cast("long"))
      .filter(col("term_rank") <= perCluster)
      .join(broadcast(sizes), "cluster")
      .select(col("cluster"), col("n_docs"), col("term_rank"), col("term"),
        quant6(col("w")).as("weight"))
      .orderBy("cluster", "term_rank")
  }

  /** Retrieval evaluation harness (q_retrieval_eval): recall@k and
    * MRR@k for each retrieval tier — BM25 lexical, Dirichlet query
    * likelihood, pooled-vector cosine, hybrid RRF, 3-way RRF,
    * PRF-expanded BM25, weighted-sum hybrid, late-interaction MaxSim
    * re-rank —
    * against exact-cosine ground truth (the
    * vector tier's own top-t, so its row reads 1.0/1.0 by construction
    * and anchors the scale; the informative rows are how much of the
    * semantic truth the lexical tier recovers and whether fusion
    * closes the gap). The same grading loop [[annRecall]] runs for the
    * ANN index, one level up: a retrieval deployment tunes k1/b/c
    * against exactly this census.
    *
    * Determinism: per-query recall = hits/t and reciprocal rank =
    * 1/first_rank are single IEEE divisions on integers, rounded to
    * the quantum; the across-queries mean accumulates as
    * DECIMAL(18,6) so order cannot perturb it. Scale shape: all three
    * lists are k-bounded per query, the truth join is broadcast
    * list-vs-list, and the census is |systems| rows.
    */
  def retrievalEval(documents: DataFrame, nQueries: Long = 10, k: Int = 10,
                    t: Int = 5, corpusKey: Option[String] = None): DataFrame = {
    val truth = docSearch(documents, nQueries, t)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val ret = retrievalTiersCached(documents, nQueries, k, corpusKey)
    ret.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .groupBy("system", "query_id")
      .agg(sum(coalesce(col("hit"), lit(0))).as("hits"),
           min(when(col("hit") === 1, col("rank"))).as("first_rank"))
      .select(col("system"),
        round(col("hits").cast("double") / lit(t.toDouble), 6).as("recall"),
        round(coalesce(lit(1.0) / col("first_rank").cast("double"), lit(0.0)),
          6).as("rr"))
      .groupBy("system")
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("recall").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_recall"),
        round(sum(col("rr").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mrr"))
      .orderBy("system")
  }

  /** Per-process memo of the materialized tiers union, keyed by
    * (session, corpus key, parameters) — the [[graft.operators.Pipeline
    * .pretrainPackedCached]] device applied to the two eval censuses:
    * the driver invokes q_retrieval_eval and q_retrieval_ndcg as
    * independent queries, but both grade EXACTLY the same eight ranked
    * chains, so the second census should pay a localCheckpoint read,
    * not a full recompute. localCheckpoint blocks live outside the SQL
    * cache, immune to the harness's between-query clearCache().
    * Registered with [[graft.CacheRegistry]]: entries evict when their
    * session's SparkContext ends, and `CacheRegistry.release()` clears
    * the memo outright.
    */
  private val tiersMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** [[retrievalTiers]], materialized and memoized per (session,
    * `corpusKey`, nQueries, k) when a corpus key identifies the input
    * (the sf directory in the driver contract); uncached otherwise.
    */
  private def retrievalTiersCached(documents: DataFrame, nQueries: Long,
                                   k: Int, corpusKey: Option[String])
      : DataFrame =
    corpusKey match {
      case Some(ck) =>
        graft.CacheRegistry.trackMemo(documents.sparkSession, tiersMemo)
        tiersMemo.computeIfAbsent(
          s"${graft.CacheRegistry.sessionToken(documents.sparkSession)}|$ck|$nQueries|$k",
          _ => retrievalTiers(documents, nQueries, k).localCheckpoint())
      case None => retrievalTiers(documents, nQueries, k)
    }

  /** The eight ranked retrieval tiers this library ships, as one
    * (system, query_id, neighbor_id, rank) union — the shared first
    * stage of [[retrievalEval]] and [[retrievalNdcg]], so both censuses
    * grade EXACTLY the same ranked lists.
    */
  private def retrievalTiers(documents: DataFrame, nQueries: Long,
                             k: Int): DataFrame =
    graft.operators.TextAnalysis.bm25TopK(documents, nQueries, k)
        .select(lit("bm25").as("system"), col("query_id"),
          col("neighbor_id"), col("rank"))
      .unionByName(docSearch(documents, nQueries, k)
        .select(lit("vector").as("system"), col("query_id"),
          col("neighbor_id"), col("rank")))
      .unionByName(hybridRrf(documents, nQueries, k, k)
        .select(lit("hybrid").as("system"), col("query_id"),
          col("neighbor_id"), col("rank")))
      .unionByName(graft.operators.TextAnalysis.bm25Prf(documents, nQueries, k)
        .select(lit("bm25_prf").as("system"), col("query_id"),
          col("neighbor_id"), col("rank")))
      .unionByName(hybridWeighted(documents, nQueries, k, k)
        .select(lit("hybrid_wsum").as("system"), col("query_id"),
          col("neighbor_id"), col("rank")))
      .unionByName(graft.operators.TextAnalysis
        .qlDirichletTopK(documents, nQueries, k)
        .select(lit("ql").as("system"), col("query_id"),
          col("neighbor_id"), col("rank")))
      .unionByName(hybridRrf3(documents, nQueries, k, k)
        .select(lit("hybrid_3way").as("system"), col("query_id"),
          col("neighbor_id"), col("rank")))
      .unionByName(maxSimRerank(documents, nQueries, k, m = 2 * k)
        .select(lit("maxsim").as("system"), col("query_id"),
          col("neighbor_id"), col("rank")))

  /** nDCG@k per retrieval tier (q_retrieval_ndcg) — the GRADED-relevance
    * companion to [[retrievalEval]]'s binary recall/MRR: the exact-cosine
    * top-`t` is the graded truth (relevance t+1−truth_rank, i.e. 5..1),
    * and each tier's ranked list earns rel/log₂(rank+1) per hit,
    * normalized by the ideal ordering's DCG. This is the metric IR
    * deployments actually tune against when relevance is not binary —
    * a tier that finds the same 5 docs but ranks the best one first now
    * outscores one that buries it.
    *
    * Determinism: each DCG term rel·ln2/ln(rank+1) passes the quant6 ln
    * law (the bm25 idf device), per-query DCG and IDCG accumulate as
    * DECIMAL(18,6), the ratio and across-queries mean round at the
    * quantum. Scale shape: truth and lists are k-bounded per query;
    * the grading joins are broadcast list-vs-list; census = |tiers| rows.
    */
  def retrievalNdcg(documents: DataFrame, nQueries: Long = 10, k: Int = 10,
                    t: Int = 5, corpusKey: Option[String] = None): DataFrame = {
    val truth = docSearch(documents, nQueries, t)
      .select(col("query_id"), col("neighbor_id"),
        (lit(t + 1) - col("rank")).cast("double").as("rel"),
        col("rank").as("truth_rank"))
    val idcg = truth
      .select(col("query_id"),
        quant6(col("rel") * log(lit(2.0)) /
          log(col("truth_rank").cast("double") + lit(1.0))).as("g"))
      .groupBy("query_id")
      .agg(sum(col("g").cast("decimal(18,6)")).cast("double").as("idcg"))
    val dcg = retrievalTiersCached(documents, nQueries, k, corpusKey)
      .join(broadcast(truth.select("query_id", "neighbor_id", "rel")),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("system"), col("query_id"),
        coalesce(quant6(col("rel") * log(lit(2.0)) /
          log(col("rank").cast("double") + lit(1.0))), lit(0.0)).as("g"))
      .groupBy("system", "query_id")
      .agg(sum(col("g").cast("decimal(18,6)")).cast("double").as("dcg"))
    dcg.join(broadcast(idcg), "query_id")
      .select(col("system"),
        quant6(col("dcg") / col("idcg")).as("ndcg"))
      .groupBy("system")
      .agg(count(lit(1)).as("n_queries"),
        // quant6, not round: the mean of quantized ratios can land
        // exactly on a .5·10⁻⁶ boundary, where the engines' display
        // rounds disagree — the floor law cannot
        quant6(sum(col("ndcg").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_ndcg"))
      .orderBy("system")
  }

  private[graft] def chunkEmbeddingsFrom(chunks: DataFrame, dims: Int,
                                         nLabels: Int): DataFrame =
    chunks.select(
      col("vec_id"),
      pmod(NearDup.md5Hash60(col("chunk_hash")), lit(nLabels.toLong))
        .cast("int").as("label"),
      array((0 until dims).map { j =>
        (pmod(NearDup.md5Hash60(concat(col("chunk_hash"), lit(s":$j"))),
              lit(2000001L)) - lit(1000000L)).cast("double") / lit(1e6)
      }: _*).as("embedding"))

  /** The IVF-PQ candidate scorer shared by [[ivfPqSearch]] and
    * [[ivfPqRerankSearch]]: (query_id, cand_id, s = −est_d2) rows for
    * every member of each query's probed cells.
    */
  /** The nprobe-INDEPENDENT artifacts of one inline IVF-PQ serve: trained
    * coarse codebook, per-vector cell assignments, PQ codes, and the two
    * per-query ADC lookup tables. Split out of [[ivfPqScored]] (r17) so
    * the tune census derives this chain ONCE and shares it across every
    * (nprobe, serve) setting — only the probe list depends on nprobe, yet
    * the census used to re-run the whole training chain per setting (6×
    * at the default grid: 131 jobs, ~105 s of job time at sf0.1).
    * codes/d1/d2 are persisted because each census setting re-consumes
    * them (codes is one skinny row per vector; d1/d2 are broadcast-sized).
    */
  private case class IvfPqArts(pts: DataFrame, cents: DataFrame,
                               assigned: DataFrame, codes: DataFrame,
                               d1: DataFrame, d2: DataFrame)

  private def ivfPqArtifacts(embeddings: DataFrame, nQueries: Int,
                             trainIters: Int): IvfPqArts = {
    // one shared points frame for training, assignment and the PQ base
    // (r17) — the same 4-shuffles→1 consolidation as buildIvfPqIndex
    val pts = pointsOf(embeddings)
    val cents =
      if (trainIters > 0) lloydChainFrom(pts, trainIters)._2
      else centroidsFromPoints(pts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track)
    // coarse cell per vector, shared by the candidate join and the probe
    // derivation (same persist discipline as ivfSearch)
    val assigned = assignedFromPoints(pts, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // fine quantizer: PQ codes + per-query ADC lookup tables
    val d = pts.select(size(col("emb"))).head().getInt(0)
    val base = pqBaseFrom(pts, d)
    val cb1 = subCodebook(base, "e1")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val cb2 = subCodebook(base, "e2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val codes = assignHalf(base, "e1", cb1, "code1")
      .join(assignHalf(base, "e2", cb2, "code2"), "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val d1 = adcLookup(base, "e1", cb1, nQueries, "q1", "c1", "d1")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val d2 = adcLookup(base, "e2", cb2, nQueries, "q2", "c2", "d2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    IvfPqArts(pts, cents, assigned, codes, d1, d2)
  }

  /** One nprobe setting's candidate scoring over shared [[IvfPqArts]]. */
  private def ivfPqScoredFrom(a: IvfPqArts, nQueries: Int,
                              nprobe: Int): DataFrame = {
    val cells = a.assigned.select(col("vec_id"), col("assigned"))
    val probes = nearestCells(
        a.assigned.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
        a.cents, nprobe)
      .select(col("query_id"), col("clabel").as("assigned"))
    // candidates: members of each query's probed cells (cells are
    // disjoint, so no candidate is scored twice per query); negated
    // estimate because TopKAgg keeps the HIGHEST scores
    cells.join(broadcast(probes), Seq("assigned"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("vec_id"), col("query_id"))
      .join(a.codes, "vec_id")
      .join(broadcast(a.d1),
        col("code1") === col("c1") && col("query_id") === col("q1"))
      .join(broadcast(a.d2),
        col("code2") === col("c2") && col("query_id") === col("q2"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (-(col("d1") + col("d2"))).as("s"))
  }

  private def ivfPqScored(embeddings: DataFrame, nQueries: Int,
                          nprobe: Int, trainIters: Int): DataFrame =
    ivfPqScoredFrom(ivfPqArtifacts(embeddings, nQueries, trainIters),
      nQueries, nprobe)

  /** RESIDUAL IVF-PQ search (IVFADC proper): PQ encodes each vector's
    * RESIDUAL against its coarse centroid instead of the raw vector —
    * the form production ANN indexes actually ship, because residuals
    * concentrate near zero and the same sub-codebook budget buys far
    * lower quantization error. The price at query time: the ADC lookup
    * tables become per-(query, probed cell) — the query's residual is
    * different in every cell it probes — which is why real systems cap
    * nprobe. Still broadcast-sized: nQueries × nprobe × |sub-codebook|
    * rows of (two keys, one double).
    *
    * Everything else composes the existing machinery: [[lloydChain]]
    * coarse codebook, [[assignedVectors]] cells, [[subCodebook]]/
    * [[assignHalf]] on the residual halves (the shared helpers take any
    * (label, e1, e2) base). Scale shape identical to [[ivfPqSearch]]:
    * skinny candidate join bounded by nprobe × cell occupancy, codes not
    * vectors on the wire, codebook-sized broadcasts.
    */
  def ivfPqResidualSearch(embeddings: DataFrame, nQueries: Int, k: Int,
                          nprobe: Int = 2, trainIters: Int = 2): DataFrame = {
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    val h = d / 2
    val cents =
      if (trainIters > 0) trainedCodebook(embeddings, trainIters)
      else centroidsDF(embeddings)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track)
    val assigned = assignedVectors(embeddings, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // residual base: v - c(v), split into halves — the (label, e1, e2)
    // shape the shared PQ helpers consume. Residuals are QUANTIZED to 6
    // decimals (quant6) as part of the spec: raw residual components
    // carry full double precision (centroids are divided means), where
    // the decimal cast inside the sub-codebook mean is forced to round —
    // and Spark's BigDecimal rounding and DuckDB's double-space decimal
    // cast disagree at the last ulp. Quantized residuals make every
    // downstream decimal cast exact on both engines (the same 6-decimal
    // discipline as all cross-engine ratios in this suite); for a PQ
    // index the quantization is semantically free — PQ is about to
    // compress far harder anyway.
    val resid = assigned.join(broadcast(cents), col("assigned") === col("clabel"))
      .select(col("vec_id"), col("label"), col("assigned"),
        zip_with(col("emb"), col("cvec"), (x, c) => quant6(x - c)).as("r"))
      .select(col("vec_id"), col("label"), col("assigned"),
        slice(col("r"), lit(1), lit(h)).as("e1"),
        slice(col("r"), lit(h + 1), lit(d - h)).as("e2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val cb1 = subCodebook(resid, "e1")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val cb2 = subCodebook(resid, "e2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val codes = assignHalf(resid, "e1", cb1, "code1")
      .join(assignHalf(resid, "e2", cb2, "code2"), "vec_id")
    val probes = nearestCells(
        assigned.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
        cents, nprobe)
      .select(col("query_id"), col("clabel").as("pcell"), col("q_emb"))
    // the query's residual w.r.t. EACH probed cell's centroid (same
    // 6-decimal quantization as the corpus residuals)
    val qres = probes.join(broadcast(cents), col("pcell") === col("clabel"))
      .select(col("query_id"), col("pcell"),
        zip_with(col("q_emb"), col("cvec"), (x, c) => quant6(x - c)).as("qr"))
      .select(col("query_id"), col("pcell"),
        slice(col("qr"), lit(1), lit(h)).as("q1h"),
        slice(col("qr"), lit(h + 1), lit(d - h)).as("q2h"))
    def lookupR(half: String, cb: DataFrame, qCol: String, pCol: String,
                cCol: String, out: String): DataFrame = qres
      .select(col("query_id").as(qCol), col("pcell").as(pCol),
              col(half).as("q"))
      .crossJoin(broadcast(cb))
      .select(col(qCol), col(pCol), col("clabel").as(cCol),
        (dot(col("q"), col("q")) + cellScore(col("q"))).as(out))
    val d1 = lookupR("q1h", cb1, "q1", "p1", "c1", "d1")
    val d2 = lookupR("q2h", cb2, "q2", "p2", "c2", "d2")
    val scored = assigned.select(col("vec_id"), col("assigned"))
      .join(broadcast(probes.select("query_id", "pcell")),
        col("assigned") === col("pcell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("vec_id"), col("query_id"), col("assigned"))
      .join(codes, "vec_id")
      .join(broadcast(d1), col("code1") === col("c1") &&
        col("query_id") === col("q1") && col("assigned") === col("p1"))
      .join(broadcast(d2), col("code2") === col("c2") &&
        col("query_id") === col("q2") && col("assigned") === col("p2"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (-(col("d1") + col("d2"))).as("s"))
    rankedTopK(scored, k, "est_d2", sc => -sc)
  }

  /** Total distortion (sum of squared L2 distance to the assigned
    * centroid) after each of `iters` codebook states, starting from the
    * label-centroid codebook — the convergence instrument: Lloyd's
    * guarantees the sequence is non-increasing (asserted in
    * SimilaritySpec). |v|² is added back to the argmin-invariant score so
    * the value is a true distance, not just a comparator.
    */
  def kmeansDistortions(embeddings: DataFrame, iters: Int): Seq[Double] = {
    var cents = centroidsDF(embeddings)
    (1 to iters).map { _ =>
      val assigned = assignedVectors(embeddings, cents)
        .join(broadcast(cents), col("assigned") === col("clabel"))
      val d = assigned
        .select((cellScore(col("emb")) + dot(col("emb"), col("emb"))).as("d2"))
        .agg(sum(col("d2"))).head().getDouble(0)
      cents = codebookFromMeans(stepMeans(embeddings, cents))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track)
      d
    }
  }

  /** IVF SEARCH: each query vector scans only its `nprobe` nearest
    * centroid cells — candidates meet through an equi-join on the cell
    * id, so the pair space is bounded by nprobe × cell occupancy
    * (|corpus|/|cells| per probed cell on average) instead of the full
    * corpus; top-k via the bounded TopKAgg. nprobe is the recall/latency
    * dial: probing more cells monotonically widens the candidate set
    * toward the exact scan (recall vs [[bruteForceTopK]] is bounded in
    * SimilaritySpec). Cells are disjoint (each vector lives in exactly
    * one), so no candidate is scored twice.
    *
    * Cache contract: the assigned-vectors subplan is persisted because
    * the probe derivation and the candidate join both consume it; the
    * cache outlives the returned lazy DataFrame by design — long-lived
    * sessions running many queries reclaim it deterministically with
    * [[graft.CacheRegistry.release]] (every operator-internal persist is
    * registered there), or wholesale with spark.catalog.clearCache(), as
    * Bench does between queries.
    */
  def ivfSearch(embeddings: DataFrame, nQueries: Int, k: Int,
                nprobe: Int = 1, trainIters: Int = 0): DataFrame =
    ivfSearchImpl(embeddings, nQueries, k, nprobe, trainIters, lit(true))

  /** FILTERED vector search — the metadata-predicate form every
    * production vector store serves ("top-k among candidates WHERE
    * lang = 'en'"): the predicate bounds the CANDIDATE set between cell
    * assignment and scoring, so filtered queries scan strictly fewer
    * rows than unfiltered ones (filter-then-rank, never rank-then-drop:
    * dropping after the top-k would under-fill k whenever the filter
    * removes ranked hits). Queries themselves are NOT filtered — a
    * query may search a slice it does not belong to.
    *
    * Scale shape: identical to [[ivfSearch]] plus one per-row predicate
    * on the candidate scan (pushed down to the assignment cache read);
    * the probed-cell bound and the TopKAgg partial aggregation carry
    * over unchanged.
    */
  def ivfSearchFiltered(embeddings: DataFrame, nQueries: Int, k: Int,
                        candidateFilter: Column, nprobe: Int = 1,
                        trainIters: Int = 0): DataFrame =
    ivfSearchImpl(embeddings, nQueries, k, nprobe, trainIters,
      candidateFilter)

  private def ivfSearchImpl(embeddings: DataFrame, nQueries: Int, k: Int,
                            nprobe: Int, trainIters: Int,
                            candFilter: Column): DataFrame = {
    // codebook built once and shared by the assignment and the probe
    // derivation — persisted (it is codebook-sized, i.e. tiny) so the
    // second consumer reuses the scan instead of re-deriving it.
    // trainIters > 0 indexes on a k-means-TRAINED codebook (the
    // train → index → search composition of a real IVF build) instead of
    // the raw label centroids; that branch arrives ALREADY persisted and
    // registered by the training chain — re-persisting it here would
    // double-register and log cache-already-cached warnings.
    val cents =
      if (trainIters > 0) trainedCodebook(embeddings, trainIters)
      else centroidsDF(embeddings)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track)
    val assigned = assignedVectors(embeddings, cents)
      .withColumn("nrm", l2Norm(col("emb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val probes = nearestCells(
        assigned.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
                  col("nrm").as("q_nrm")),
        cents, nprobe)
      .select(col("query_id"), col("clabel").as("assigned"),
              col("q_emb"), col("q_nrm"))
    val scored = assigned.filter(candFilter)
      .join(broadcast(probes), Seq("assigned"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (dot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))).as("s"))
    rankedTopK(scored, k, "sim")
  }

  /** One Lloyd's iteration of k-means over the embedding corpus: assign
    * every vector to its nearest current centroid (the label centroids as
    * the starting codebook), then recompute per-cell component means —
    * the training loop a clustering/IVF index build runs to convergence.
    * Same decimal-exact mean discipline as [[labelCentroids]], so the
    * updated codebook is reproducible cross-engine. Per iteration: one
    * broadcast (codebook), one shuffle (per-cell mean) — the shape that
    * scales to 100 TB of vectors with codebook-sized driver state.
    */
  def kmeansStep(embeddings: DataFrame): DataFrame =
    stepMeans(embeddings, centroidsDF(embeddings))
      .orderBy("assigned", "dim")

  /** Per-label centroid, emitted as (label, dim, mean) rows. The component
    * sum goes through exact DECIMAL so the result is independent of
    * partition/merge order (float addition is not associative; decimal
    * addition is) — the aggregation itself is a plain 2-phase hash agg.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg((sum(quant6(col("x").cast("double")).cast("decimal(18,9)")).cast("double") / count(lit(1)))
        .as("mean_val"))
      .orderBy("label", "dim")

  /** PCA TOP COMPONENT by in-plan power iteration (q_pca_embed; the
    * matrix-free power method — Golub & Van Loan §7.3 — applied to the
    * centered covariance action): v ← Σ_x (x−μ)·((x−μ)·v), normalized,
    * iterated a fixed 3 rounds from the uniform unit start. The
    * embedding-analytics family's missing classic: quantization
    * compresses, k-means partitions, drift census compares — PCA names
    * the direction the collection actually varies along (whitening,
    * drift attribution, index rotation all start here). Never
    * materializes the d×d covariance: each iteration is one pass over
    * the vectors computing the scalar projection s = (x−μ)·v and
    * accumulating s·(x−μ) per dimension — exactly how a 100 TB corpus
    * has to do it (the d×d Gram matrix is cheap, but the PASS structure
    * — broadcast v, map-side partial sums, d-row result — is the shape
    * that survives scale; per iteration: one broadcast of a d-vector,
    * one shuffle of d·partitions partial rows).
    *
    * Determinism (the [[kmeansTrain]] discipline): means quantize
    * through exact decimal sums; the projection is [[graft.functions
    * .SketchExpressions.vecDot]]'s strict left-to-right fold (bit-equal
    * to DuckDB's list_dot_product); every per-dim contribution passes
    * quant6 and accumulates as DECIMAL; the norm is one IEEE sqrt of a
    * decimal-exact sum; the final sign fixes to make the largest-|·|
    * component positive (ties break to the lowest dim), so the loading
    * vector is unique and hash-matches cross-engine.
    */
  def pcaPower(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    val ex = embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
    val mu = ex.groupBy("dim")
      .agg(quant6(
        sum(quant6(col("xf").cast("double")).cast("decimal(18,9)"))
          .cast("double") / count(lit(1))).as("mu"))
    val muArr = mu
      .agg(array_sort(collect_list(struct(col("dim"), col("mu"))))
        .as("ms"))
      .select(transform(col("ms"), s => s.getField("mu")).as("mu"))
    val base = embeddings
      .crossJoin(broadcast(muArr))
      .select(zip_with(col("embedding").cast("array<double>"), col("mu"),
        (a, b) => a - b).as("xc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val d = mu.agg(count(lit(1)).as("d"))
    var v = mu.crossJoin(broadcast(d))
      .select(col("dim"),
        quant6(lit(1.0) / sqrt(col("d").cast("double"))).as("v"))
    for (_ <- 1 to iters) {
      val vArr = v
        .agg(array_sort(collect_list(struct(col("dim"), col("v"))))
          .as("vs"))
        .select(transform(col("vs"), s => s.getField("v")).as("v"))
      val u = base.crossJoin(broadcast(vArr))
        .withColumn("s", dot(col("xc"), col("v")))
        .select(col("s"), posexplode(col("xc")).as(Seq("dim", "e")))
        .groupBy("dim")
        .agg(sum(quant6(col("e") * col("s")).cast("decimal(28,6)"))
          .cast("double").as("u"))
      val norm = u.agg(sqrt(
        sum(quant6(col("u") * col("u")).cast("decimal(38,6)"))
          .cast("double")).as("nrm"))
      v = u.crossJoin(broadcast(norm))
        .select(col("dim"), quant6(col("u") / col("nrm")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track)
    }
    val ma = v.agg(max(abs(col("v"))).as("ma"))
    val sgn = v.crossJoin(broadcast(ma))
      .filter(abs(col("v")) === col("ma"))
      .orderBy("dim").limit(1)
      .select(when(col("v") < 0, lit(-1.0)).otherwise(lit(1.0)).as("sgn"))
    v.crossJoin(broadcast(sgn))
      .select(col("dim").cast("int").as("dim"),
        quant6(col("sgn") * col("v")).as("loading"))
      .orderBy("dim")
  }
}
