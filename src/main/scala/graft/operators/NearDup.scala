package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents` (driver north-star
  * "deduplication": exact, n-gram Jaccard, MinHash+LSH, SimHash;
  * embedding-cosine near-dup lives in [[Similarity.cosineJoinBlocked]]).
  *
  * Everything is bucketed-by-design — no operator ever generates the
  * all-pairs O(n²) space:
  *  - the exact path joins docs only through a shared-shingle inverted
  *    index (a pair with Jaccard > 0 must share a shingle);
  *  - MinHash meets docs only inside an LSH band bucket;
  *  - SimHash meets docs only on an equal 15-bit fingerprint band.
  *
  * Shingle/token hashes are 60-bit integers from md5 hex (identical in
  * Spark and DuckDB), so even the sketch-based operators are exactly
  * reproducible by the SQL oracle.
  */
object NearDup {

  /** Distinct word n-gram shingle set per document. The repartition
    * matters: the warehouse ships documents as one parquet file, so
    * without it every downstream per-document pass (tokenize, shingle,
    * hash) runs in ONE task — the same pathology as a hot single input
    * split at 100 TB. Hashing on doc_id spreads the work across all cores
    * before the expensive expression work happens.
    */
  def shingleSets(documents: DataFrame, n: Int): DataFrame =
    documents.repartition(col("doc_id")).select(col("doc_id"),
      array_distinct(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), n))
        .as("sh"))

  /** Inverted index (shingle → doc), optionally pruned of shingles hotter
    * than dfCutoff. The pruning is part of the operator's semantics (both
    * candidate generation AND jaccard denominators use the pruned sets) so
    * the oracle mirrors it exactly; at web scale it is also what bounds
    * the hottest reducer: a stopword-shingle shared by 10^7 docs would
    * otherwise make one shuffle key quadratic.
    */
  def invertedIndex(shingleSets: DataFrame, dfCutoff: Long): DataFrame = {
    val ex = shingleSets.select(col("doc_id"), explode(col("sh")).as("s"))
    // df-cutoff via a window count over the shingle key: one shuffle and
    // ONE evaluation of the exploded subtree, where an agg+self-join form
    // would re-derive the tokenize→shingle→explode chain per consumer
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s")
    ex.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= dfCutoff)
      .drop("df")
  }

  /** Exact n-gram Jaccard near-dup pairs via the inverted index: one
    * shuffle on the shingle, pair counts only for docs that share one.
    */
  def jaccardPairs(documents: DataFrame, n: Int, threshold: Double,
                   dfCutoff: Long): DataFrame = {
    // the index feeds three consumers (sizes + both self-join sides);
    // persisting it stops Catalyst re-deriving the tokenize→shingle→df
    // subtree once per consumer (4× the scan at any scale). The cache
    // outlives the returned (lazy) DataFrame by design — callers running
    // many such queries in one long session reclaim it with
    // graft.CacheRegistry.release() (targeted) or
    // spark.catalog.clearCache() (superset), as Bench does between queries.
    val idx = invertedIndex(shingleSets(documents, n), dfCutoff)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = idx.as("a").join(idx.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("n_a")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("n_b")), "b_id")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_inter"),
              round(col("jaccard"), 6).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** 60-bit integer hash from the first 15 md5 hex chars — the one hash
    * function both engines evaluate identically.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Modulus for the MinHash universal hash: the Mersenne prime 2^31-1.
    * With a,b < p and the base hash reduced mod p first, every intermediate
    * stays under 2^62 — no 64-bit overflow, so the arithmetic is legal
    * under ANSI mode and identical in any engine.
    */
  val MinhashP: Long = (1L << 31) - 1

  /** Universal-hash parameters (a ∈ [1,p), b ∈ [0,p)) for k permutations. */
  def minhashParams(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((1L + rnd.nextInt((MinhashP - 1).toInt).toLong,
                 rnd.nextInt(MinhashP.toInt).toLong))
  }

  /** MinHash + banded LSH near-dup pairs: candidates arise only inside an
    * equal (band, band-hash) bucket and are then verified with the EXACT
    * jaccard from the pruned shingle sets, so false positives are
    * impossible and the only deviation from [[jaccardPairs]] is banding
    * recall, 1-(1-j^rows)^bands. The 32×2 default keeps recall high down
    * to the graded threshold itself (miss prob at j=0.5 is 0.75^32 ≈ 1e-4;
    * at j=0.9 it is ~1e-23) — narrower bands (e.g. 16×4) look cheaper but
    * deterministically drop moderate-jaccard pairs the exact oracle
    * contains. Permutation i is h_i(s) = (a_i·(H(s) mod p) + b_i) mod p
    * over the Mersenne prime p = 2^31-1 — overflow-free under ANSI mode.
    */
  def minhashPairs(documents: DataFrame, n: Int, threshold: Double,
                   dfCutoff: Long, bands: Int = 32, rows: Int = 2,
                   seed: Long = 42L): DataFrame = {
    val k = bands * rows
    val idx = invertedIndex(shingleSets(documents, n), dfCutoff)
    // pruned shingle set per doc + signature, computed ONCE and persisted:
    // the banding self-join and the verify join both reuse it
    val docs = idx.groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
      .withColumn("hs", transform(col("sh"), s => md5Hash60(s)))
      .withColumn("sig",
        graft.functions.SketchExpressions.minhashSig(col("hs"), k, seed))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // band rows stay skinny (no shingle arrays) — the arrays join back in
    // only for the verified candidate pairs
    val banded = docs.select(
        col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          md5(concat_ws(",",
            transform(slice(col("sig"), b * rows + 1, lit(rows)),
              v => v.cast("string"))))))
          .as(Seq("band", "band_key")))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    cands
      .join(docs.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), "b_id")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_inter"),
              round(col("jaccard"), 6).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** 60-bit SimHash fingerprint per document: bit j is set when the
    * tf-weighted ±1 vote of token-hash bit j is positive. Pure per-row
    * HOF expression work (no shuffle); the md5-based token hash keeps it
    * oracle-reproducible.
    */
  /** Public unordered form: StreamOps' incremental near-dedup fingerprints
    * each micro-batch with the same spec (the trailing orderBy of
    * [[simhash]] is oracle-determinism, useless mid-stream).
    */
  def simhashUnordered(documents: DataFrame): DataFrame =
    documents
      .repartition(col("doc_id")) // single input file → spread the hash work
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("hs", transform(col("toks"), t => md5Hash60(t)))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.SketchExpressions.simhash60(col("hs")).as("simhash"))

  def simhash(documents: DataFrame): DataFrame =
    simhashUnordered(documents).orderBy("doc_id")

  /** Near-dup pairs by SimHash hamming distance ≤ maxHamming (< 4): the
    * 60-bit fingerprint splits into 4 15-bit bands; by pigeonhole any
    * pair within hamming 3 agrees on at least one full band, so the
    * band-equality join is EXACT, never all-pairs. bit_count(xor) verifies.
    */
  /** Duplicate CLUSTERS: connected components over the SimHash near-dup
    * pair graph, labeling every paired doc with the smallest doc_id
    * reachable from it — the clustering a production dedup pipeline runs
    * so "keep one representative per duplicate group" survives transitive
    * chains (a~b, b~c, a≁c must still collapse to ONE group; pairwise
    * drop-the-larger would handle it by luck of id ordering, components
    * handle it by construction).
    *
    * Iterative min-label propagation (the Pregel/GraphX connected-
    * components shape reduced to DataFrame joins): every node starts
    * labeled with itself; each round takes the min of its own and its
    * neighbors' labels; converged when no label changes. Each round is
    * one hash join + one aggregation (shuffles keyed on the
    * high-cardinality doc_id), the round count is the component DIAMETER
    * (tiny for dup clusters — near-dup groups are cliques-ish), and the
    * only driver-side value per round is the scalar changed-count that
    * decides convergence — the standard iterative-algorithm driver loop.
    * Output is the true fixpoint, so it is deterministic and oracled
    * against a DuckDB recursive CTE computing the same reachability.
    */
  def duplicateComponentsUnordered(documents: DataFrame,
                                   maxHamming: Int = 3): DataFrame =
    // widen the whole components stage (fingerprints + banded self-join +
    // label-propagation rounds) to the corpus's own size (Width's
    // uncapped rule — the stage's ~1000x internal amplification spills
    // at the core-count width at sf10): every job in this method launches
    // inside the scope, and the returned frame is already materialized
    // (localCheckpoint) by loop exit, so downstream consumers shuffle at
    // the restored session width
    graft.Width.scoped(documents.sparkSession, graft.Width.shuffle(
        graft.Width.of("neardup.fixpoint", documents))) {
      duplicateComponentsAtWidth(documents, maxHamming)
    }

  private def duplicateComponentsAtWidth(documents: DataFrame,
                                         maxHamming: Int): DataFrame =
    componentsFromEdges(simhashPairs(documents, maxHamming))
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))

  /** Generic connected components by min-label propagation over an
    * undirected edge list `(a_id, b_id)` — the fixpoint
    * [[duplicateComponents]] always ran, extracted so other pair graphs
    * (entity-resolution match edges, near-dup bands) share one audited
    * loop. Returns `(id, lbl)` for every node that appears in an edge;
    * isolated nodes are the CALLER's to coalesce (their label is their
    * own id by definition, no reason to push them through the loop).
    * Label = min node id in the component. Each round localCheckpoints
    * (lineage truncation keeps round-i planning O(1)) and releases the
    * superseded generation's blocks immediately.
    */
  private[graft] def componentsFromEdges(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.select("a_id", "b_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val sym = edges.union(edges.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    var labels = sym.select(col("a_id").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    var changed = 1L
    while (changed > 0) {
      val nbrMin = sym
        .join(labels.select(col("id").as("b_id"), col("lbl").as("nlbl")), "b_id")
        .groupBy(col("a_id").as("id")).agg(min(col("nlbl")).as("nbl"))
      // old label rides along so the convergence check is a filter on the
      // SAME materialized frame, not a second join against the old labels.
      // localCheckpoint (not persist): it TRUNCATES the logical lineage,
      // so round i's plan doesn't re-analyze rounds 1..i-1 — with plain
      // persist the per-round Catalyst planning cost grows with the
      // round number even though execution reads the cache.
      // LAZY checkpoint (r17): the convergence count below is the first
      // action, so one job per round both materializes the generation's
      // blocks and reads off the changed-count — the eager form paid a
      // second full job per round just to count.
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
                least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("lbl"),
                col("lbl").as("old"))
        .localCheckpoint(false)
      changed = next.filter(col("lbl") < col("old")).count()
      // the superseded generation's storage goes immediately instead of
      // accumulating across rounds. Checkpoint blocks are NOT
      // cache-manager-owned, so a plain unpersist would be a silent no-op
      // from round 2 on — CheckpointBridge releases the backing RDD
      // (round 1's persist-based frame takes the unpersist branch inside)
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(labels)
      labels = next
    }
    // the CONVERGED generation survives for the caller to consume —
    // registry-tracked (r18) so its blocks are released when the query
    // completes instead of pinning block storage until RDD GC
    graft.CacheRegistry.trackCheckpoint(labels).select(col("id"), col("lbl"))
  }

  def duplicateComponents(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    duplicateComponentsUnordered(documents, maxHamming).orderBy("doc_id")

  /** MinHash Jaccard ESTIMATES next to ground truth: for every exact
    * near-dup pair, the sketch estimate (fraction of equal signature
    * components) alongside the exact pruned-set Jaccard — the estimator
    * quality audit, fully ORACLED because every ingredient (md5-60bit
    * base hash, Mersenne-prime universal hash, component-wise min) is
    * deterministic and SQL-reproducible, so the oracle rebuilds all k
    * signature components from scratch (the same rare property the CMS
    * matrix oracle exploits). Pairs come from the exact path: the audit
    * measures estimator error on known positives, not banding recall
    * (that lives in q_neardup_minhash).
    */
  def minhashEstimates(documents: DataFrame, n: Int, threshold: Double,
                       dfCutoff: Long, k: Int = 64,
                       seed: Long = 42L): DataFrame = {
    val pairs = jaccardPairs(documents, n, threshold, dfCutoff)
      .select("a_id", "b_id", "jaccard")
    val sigs = invertedIndex(shingleSets(documents, n), dfCutoff)
      .groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
      .withColumn("hs", transform(col("sh"), s => md5Hash60(s)))
      .select(col("doc_id"),
        graft.functions.SketchExpressions.minhashSig(col("hs"), k, seed).as("sig"))
    pairs
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast("double") / k, 6).as("est_jaccard"),
        col("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Cluster REPRESENTATIVE selection: for every duplicate cluster, keep
    * the highest-QUALITY member (ties to the lowest doc_id) — the
    * "keep the best copy, not the first copy" rewrite step real corpus
    * dedup ships (RefinedWeb-style), composed from
    * [[duplicateComponents]] and [[TextAnalysis.qualityScore]]. argmax
    * via min over a (-quality, doc_id) struct == the oracle's row_number
    * ORDER BY quality DESC, doc_id. One extra join + one cluster-keyed
    * agg on top of the components fixpoint.
    */
  def clusterRepresentatives(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val comps = duplicateComponents(documents, maxHamming)
    val quality = TextAnalysis.qualityScore(documents)
      .select(col("doc_id"), col("quality_score"))
    comps.join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(min(struct((-col("quality_score")).as("nq"), col("doc_id").as("id"))).as("m"),
           count(lit(1)).as("n_members"))
      // +0.0 normalizes the -0.0 a double negation round-trip can mint
      .select(col("cluster_id"), col("m.id").as("best_doc"),
              (-col("m.nq") + lit(0.0)).as("best_quality"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Edit-distance near-dup verification: the SimHash band candidates
    * re-scored with exact Levenshtein distance over the raw text — the
    * character-level member of the near-dup family (Jaccard/MinHash are
    * token-set, SimHash is token-frequency; edit distance catches
    * small in-token typo edits the set views blur). Levenshtein is
    * O(|a|·|b|) per pair, which is exactly why it runs ONLY on the banded
    * candidate pairs (never all-pairs) and why the skinny id-only pair
    * stream joins the text back just for survivors of banding.
    */
  def editDistancePairs(documents: DataFrame, maxEdit: Int): DataFrame = {
    val cand = simhashPairs(documents, 3).select("a_id", "b_id")
    val txt = documents.select(col("doc_id"), col("text"))
    cand
      .join(txt.select(col("doc_id").as("a_id"), col("text").as("a_text")), "a_id")
      .join(txt.select(col("doc_id").as("b_id"), col("text").as("b_text")), "b_id")
      .withColumn("edit_dist", levenshtein(col("a_text"), col("b_text")).cast("long"))
      .filter(col("edit_dist") <= maxEdit)
      .select("a_id", "b_id", "edit_dist")
      .orderBy("a_id", "b_id")
  }

  /** LEAKAGE-SAFE train/valid/test split census (q_split_leakage): the
    * split audit an eval-honest corpus build runs before shipping.
    * Naive per-document hash splitting routes NEAR-DUPLICATE documents
    * to different splits — the train/test contamination that inflates
    * evals (the Lee et al. 2022 and GPT-3 appendix-C failure mode).
    * The fix: route by the near-dup CLUSTER id, so a whole duplicate
    * component lands in one split by construction.
    *
    * Output, one row per split of the CLUSTER-routed assignment:
    * doc/cluster/char census, plus the audit pair — `leak_naive` =
    * near-dup pairs with exactly one side in this split under the
    * naive doc-id routing (each straddling pair counts toward both its
    * splits), and `leak_safe` = the same census under cluster routing,
    * provably 0 (both engines COMPUTE it rather than assert it: the
    * oracle twin derives the zero independently).
    *
    * Scale shape: the banded [[simhashPairs]] candidates and the
    * [[duplicateComponents]] fixpoint are the same audited devices the
    * dedup family runs; routing is the engine-portable
    * [[md5Hash60]]-mod-100 device of `q_hash_split` (reproducible
    * across engines, runs, and repartitionings); the censuses are hash
    * aggs over 3 split keys. No windows, no all-pairs, no new shuffle
    * shapes.
    */
  def leakageSafeSplit(documents: DataFrame): DataFrame = {
    val splitOf = (h: Column) =>
      when(h < 80, "train").when(h < 90, "valid").otherwise("test")
    val comps = duplicateComponentsUnordered(documents, 3)
    val docs = documents
      .repartition(col("doc_id"))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_doc"))
      .join(comps, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("nsplit",
        splitOf(pmod(md5Hash60(col("doc_id").cast("string")), lit(100))))
      .withColumn("csplit",
        splitOf(pmod(md5Hash60(col("cluster_id").cast("string")), lit(100))))
    val census = docs.groupBy(col("csplit").as("split"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("cluster_id")).as("n_clusters"),
           sum(col("n_chars_doc")).as("n_chars"))
    val pairs = simhashPairs(documents, 3).select("a_id", "b_id")
      .join(docs.select(col("doc_id").as("a_id"), col("nsplit").as("a_ns"),
        col("csplit").as("a_cs")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("nsplit").as("b_ns"),
        col("csplit").as("b_cs")), "b_id")
    val leakNaive = pairs.filter(col("a_ns") =!= col("b_ns"))
      .select(explode(array(col("a_ns"), col("b_ns"))).as("split"))
      .groupBy("split").agg(count(lit(1)).as("leak_naive"))
    val leakSafe = pairs.filter(col("a_cs") =!= col("b_cs"))
      .select(explode(array(col("a_cs"), col("b_cs"))).as("split"))
      .groupBy("split").agg(count(lit(1)).as("leak_safe"))
    census
      .join(leakNaive, Seq("split"), "left")
      .join(leakSafe, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"), col("n_chars"),
        coalesce(col("leak_naive"), lit(0L)).as("leak_naive"),
        coalesce(col("leak_safe"), lit(0L)).as("leak_safe"))
      .orderBy("split")
  }

  /** EXACT SUBSTRING-LEVEL dedup (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" operator, arXiv:
    * 2107.06499, in its token-k-gram form): find the spans of ≥k
    * consecutive tokens that also appear in ANOTHER document, and report
    * per document the maximal merged duplicated spans — the passage-level
    * dedup that document-level dedup (whole-doc drop) cannot express.
    * Document- and near-dup operators above drop whole documents; this
    * one localizes WHICH tokens are boilerplate so a pipeline can mask or
    * cut the span and keep the rest.
    *
    * Span semantics: position p is the start of a duplicated k-gram when
    * the k-gram at p occurs in ≥2 distinct documents. Each such start
    * covers tokens [p, p+k-1]; overlapping or exactly-adjacent covers
    * merge into maximal spans (gaps-and-islands: a new span starts when
    * the gap between consecutive duplicated starts exceeds k). Output per
    * document: token count, number of maximal duplicated spans, total
    * duplicated-token coverage, longest span, and the duplicated
    * fraction — all integer arithmetic, fully oracle-able.
    *
    * Scale shape (the reference implementation is a suffix array over the
    * concatenated corpus — a global sort of every suffix; this is the
    * shuffle-native equivalent): one positional-shingle explode, ONE hash
    * shuffle on the k-gram key to find cross-doc grams, one hash join
    * back (the build side is a skinny gram-only frame), then per-document
    * window work keyed on doc_id. Documents never meet each other —
    * no pair space exists at any point, so a hot boilerplate gram costs
    * its posting-list length, never its square.
    */
  def substringDedup(documents: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tokenized once, reused by the position explode AND the final
    // per-doc census (same persist contract as jaccardPairs)
    val toks = documents.repartition(col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // POSITIONAL k-grams — posexplode keeps the start offset the span
    // arithmetic needs (the near-dup family's array_distinct would lose it)
    val pos = toks.filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(TextAnalysis.shingles(col("toks"), k)).as(Seq("p", "g")))
    // a gram is duplicated iff it appears in >= 2 DISTINCT documents
    // (cross-document spans; within-doc repetition is q_repetition's job)
    val dupG = pos.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val dp = pos.join(dupG, "g").select("doc_id", "p")
    // gaps-and-islands per document: both windows are doc_id-keyed, so
    // the sort is per-document, never global
    val wl = Window.partitionBy("doc_id").orderBy("p")
    val isl = dp
      .withColumn("newisl",
        when(col("p") - lag(col("p"), 1).over(wl) > k, 1).otherwise(0))
      .withColumn("isl", sum(col("newisl"))
        .over(wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = isl.groupBy("doc_id", "isl")
      .agg(min(col("p")).as("sp"), (max(col("p")) + lit(k) - 1).as("ep"))
    val per = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
           sum(col("ep") - col("sp") + 1).cast("long").as("dup_tokens"),
           max(col("ep") - col("sp") + 1).cast("long").as("max_span"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        round(when(col("n_tokens") > 0,
          coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "4-band split is exact only for hamming <= 3")
    // fingerprints are skinny (doc_id, simhash) but cost a full
    // tokenize+hash pass — persisted so the two self-join sides share one
    // computation (same cache contract as jaccardPairs: callers reclaim with
    // graft.CacheRegistry.release() or spark.catalog.clearCache(), as Bench
    // does between queries)
    val fp = simhashUnordered(documents).select("doc_id", "simhash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 15) % lit(1L << 15)): _*))
        .as(Seq("band", "band_key")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
              col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy("a_id", "b_id")
  }
}
