package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY F9; driver
  * north-star "text analysis"): tokenization, term statistics, quality
  * scoring, language identification, token counting, and document
  * fingerprinting — the per-document scoring passes of a large-scale
  * training-data pipeline.
  *
  * Every operator is a narrow projection + hash aggregation: one scan of
  * `documents` (only the columns used reach the parquet reader), per-row
  * codegen'd expression work (split/filter/transform higher-order functions,
  * no UDFs), and a shuffle only where a groupBy needs one. At 100 TB each of
  * these is embarrassingly parallel over document partitions.
  *
  * Cross-engine determinism (DuckDB oracle hash-compares): tokenization is
  * the shared regex `[^a-z0-9]+` over `lower(text)` (RE2 and java.util.regex
  * agree on this class), ratios are exact integer counts divided as doubles
  * and rounded to 6 decimals, fingerprints are md5 hex strings (identical
  * in both engines) — no transcendental functions anywhere.
  */
object TextAnalysis {

  /** Lowercased alphanumeric tokens of a text column. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Word n-gram shingles (space-joined) of a token array. Documents with
    * fewer than n tokens produce an empty shingle set. Implemented as a
    * codegen'd one-pass expression (graft.functions.SketchExpressions) —
    * the equivalent transform/slice/concat_ws HOF chain costs a slice
    * allocation per position in interpreted evaluation.
    */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.SketchExpressions.wordNGrams(toks, n)

  /** Term statistics per language: term frequency and document frequency
    * for every term reaching a minimum corpus frequency. The explode is
    * map-side; the single shuffle carries (lang, term) partial counts.
    */
  def termStats(documents: DataFrame, minTf: Long): DataFrame =
    documents
      .select(col("doc_id"), col("lang"),
              explode(tokens(col("text"))).as("term"))
      .groupBy("lang", "term")
      .agg(count(lit(1)).as("tf"),
           countDistinct(col("doc_id")).as("df"))
      .filter(col("tf") >= minTf)
      .orderBy("lang", "term")

  /** English-ish stopwords for the quality score. */
  val stopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  /** Per-document quality scoring: token count, mean token length,
    * alphanumeric ratio, stopword ratio, and a rational composite score —
    * the length/punct/stopword heuristics of a pretraining quality filter.
    * Pure per-row expression work; no shuffle at all.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(stopwordsEn.map(lit): _*)
    documents
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_chars_txt", length(col("text")))
      // characters that survive an alnum+space filter, as exact int counts
      .withColumn("n_alnum",
        length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stopArr, t))))
      .select(
        col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        // summed token length as length(concat_ws("", toks)) — same exact
        // integer as the aggregate() lambda fold, but fully codegen'd
        // (HOF lambdas evaluate interpreted, ~100× slower per row)
        round(
          when(col("n_tokens") > 0,
            length(concat_ws("", col("toks")))
              .cast("double") / col("n_tokens"))
            .otherwise(lit(0.0)), 6).as("avg_token_len"),
        // same zero-guard as the token ratios: an empty document scores
        // 0.0 instead of NULL
        round(
          when(col("n_chars_txt") > 0,
            col("n_alnum").cast("double") / col("n_chars_txt"))
            .otherwise(lit(0.0)), 6).as("alnum_ratio"),
        round(
          when(col("n_tokens") > 0,
            col("n_stop").cast("double") / col("n_tokens"))
            .otherwise(lit(0.0)), 6).as("stop_ratio"),
        // composite score: rational arithmetic only (cross-engine exact)
        round(
          lit(0.4) * (when(col("n_tokens") > 0,
              col("n_stop").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
            + lit(0.3) * (when(col("n_chars_txt") > 0,
              col("n_alnum").cast("double") / col("n_chars_txt")).otherwise(lit(0.0)))
            + lit(0.3) * (least(col("n_tokens"), lit(100)).cast("double") / 100.0),
          6).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Per-domain top-fraction quality selection (q_quality_topfrac): keep
    * each language's best fifth by the composite [[qualityScore]] — the
    * percentile-threshold curation gate a pretraining corpus applies PER
    * DOMAIN (one global threshold would empty low-resource languages).
    * Scale shape: the per-lang rank rides [[withGroupedPrefix]] (range
    * exchange + (_pid, lang)-local windows + census offsets — no
    * lang-partitioned window funnel), the per-lang count joins as a
    * domains-sized broadcast, and the keep predicate is exact integer
    * arithmetic (rk ≤ ⌈n/5⌉ written shuffle-free as 5·rk ≤ n+4).
    */
  def qualityTopFraction(documents: DataFrame): DataFrame = {
    val scored = qualityScore(documents)
      .select("doc_id", "quality_score")
      .join(documents.select("doc_id", "lang"), Seq("doc_id"))
    val counts = scored.groupBy("lang").agg(count(lit(1)).as("_n"))
    scored
      .transform(withGroupedPrefix(Seq("lang"), "rank", "_cum", lit(0L),
        col("quality_score").desc, col("doc_id")))
      .drop("_cum")
      .join(broadcast(counts), "lang")
      .filter(col("rank") * lit(5L) <= col("_n") + lit(4L))
      .select(col("lang"), col("rank"), col("doc_id"), col("quality_score"))
      .orderBy("lang", "rank")
  }

  /** Marker stopword sets for the language-ID heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "zu", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is", "not"),
    "es" -> Seq("el", "la", "de", "y", "que", "es", "no"))

  /** Language identification via marker-token scoring (n-gram-heuristic
    * family): count marker hits per candidate language, predict the
    * highest-scoring one (ties break to the lexicographically first
    * language; zero hits → 'und'), then emit the actual×predicted
    * confusion matrix. One scan + one tiny shuffle.
    */
  def langId(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    def score(lang: String): Column = {
      val markers = array(langMarkers(lang).map(lit): _*)
      size(filter(col("toks"), t => array_contains(markers, t)))
    }
    documents
      .withColumn("toks", toks)
      .withColumn("s_de", score("de"))
      .withColumn("s_en", score("en"))
      .withColumn("s_es", score("es"))
      .withColumn("predicted_lang",
        when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") && col("s_de") > 0, "de")
          .when(col("s_en") >= col("s_es") && col("s_en") > 0, "en")
          .when(col("s_es") > 0, "es")
          .otherwise("und"))
      .groupBy(col("lang").as("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual_lang", "predicted_lang")
  }

  /** Tokenizer-regex for the BPE-ish count: letter runs, digit runs, and
    * single non-alnum-non-space marks each count as one token (the shape a
    * byte-pair pretokenizer produces before merges).
    */
  val bpePattern: String = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Token counting per source: whitespace tokens vs BPE-ish regex tokens,
    * as corpus totals per source — the "how many tokens is this corpus"
    * accounting query. regexp_count keeps it one codegen'd pass.
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents
      .withColumn("lower_text", lower(col("text")))
      .withColumn("n_ws", size(split(trim(col("lower_text")), "\\s+")))
      .withColumn("n_bpe", size(regexp_extract_all(col("lower_text"), lit(bpePattern), lit(0))))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_ws")).as("ws_tokens"),
           sum(col("n_bpe")).as("bpe_tokens"))
      .orderBy("source")

  /** TF-IDF-style term weighting per (lang, term), log-free: the inverse
    * document frequency enters as the exact rational N/df instead of
    * ln(N/df) — same ranking order (x ↦ ln x is monotone), but every
    * arithmetic step is IEEE-exact and engine-neutral, so the weights
    * hash-match the oracle (a transcendental ln is not guaranteed
    * identically rounded across math libraries).
    */
  def tfidf(documents: DataFrame, minTf: Long): DataFrame = {
    // corpus size enters as a broadcast scalar (1-row agg cross join), not
    // an eager count(): the whole weighting is one job, and the N subplan
    // is a column-pruned count-only scan
    val n = documents.agg(count(lit(1)).cast("double").as("n_docs"))
    termStats(documents, minTf)
      .crossJoin(broadcast(n))
      .withColumn("tfidf_rational",
        round(col("tf").cast("double") * col("n_docs") / col("df"), 6))
      .drop("n_docs")
      .orderBy("lang", "term")
  }

  /** BM25 lexical retrieval (q_bm25_topk): each query document's
    * distinct terms score every other document by the Okapi BM25
    * weighting — idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) —
    * the lexical half of the hybrid retrieval every deployed RAG
    * system runs next to the vector index ([[Similarity.hybridRrf]]
    * fuses the two).
    *
    * Scale shape: the corpus side is the (doc, term, tf) posting table
    * — one tokenize + hash-agg pass; the query side (|Q| docs × their
    * distinct terms, with idf attached) broadcasts; candidates stream
    * through the posting join and TopKAgg bounds the shuffle to k rows
    * per partition per query. No |Q|·|D| pair space, no window over
    * the corpus.
    *
    * Cross-engine determinism: idf goes through ln() — the one
    * transcendental — then is immediately quantized (quant6, the
    * [[Similarity.quant6]] law; libm vs JVM log differ only below the
    * quantum except within half an ulp of a rounding boundary, the
    * same accepted exposure as the NB chain's ln). Each per-term
    * weight is a fixed-order chain of IEEE ops on quantized inputs,
    * quantized again, and summed as DECIMAL(18,6) so accumulation
    * order cannot perturb the score.
    */
  def bm25TopK(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromPostings(docPostings(documents), nQueries, k, k1, b)

  /** The (doc_id, term, tf) posting table — the ENTIRE lexical index:
    * document length is Σ tf, document frequency is the per-term row
    * count, corpus stats fall out of one aggregation. One tokenize +
    * hash-agg pass; [[buildLexicalIndex]] persists exactly this frame.
    */
  def docPostings(documents: DataFrame): DataFrame =
    documents
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** BM25 scoring core over a posting table — the serve path shared by
    * the inline [[bm25TopK]], the from-files [[searchLexicalIndex]],
    * and the streaming-maintained store (q_stream_bm25_fresh): all
    * global statistics (dl, df, n_docs, avgdl) derive from the
    * postings themselves, so a posting store IS the whole index and
    * every serve surface is value-identical by construction.
    */
  def bm25FromPostings(tf: DataFrame, nQueries: Long = 10, k: Int = 5,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import Similarity.quant6
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("term"))
      .join(dfr, "term")
      .crossJoin(broadcast(stats.select("n_docs")))
      .select(col("q_id"), col("term"),
        quant6(log((col("n_docs") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))).as("idf"))
    val scored = tf.join(dl, "doc_id")
      .crossJoin(broadcast(stats.select("avgdl")))
      .join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"),
        quant6(col("idf") * (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
          (col("tf").cast("double") + lit(k1) *
            ((lit(1.0) - lit(b)) + lit(b) *
              (col("dl").cast("double") / col("avgdl"))))).as("w"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("w").cast("decimal(18,6)")).cast("double").as("s"))
      .select(col("q_id").as("query_id"), col("doc_id").as("cand_id"),
        col("s"))
    Similarity.rankedTopK(scored, k, "bm25")
  }

  /** Pseudo-relevance-feedback query expansion (q_bm25_prf, RM3-lite):
    * a first BM25 pass retrieves each query's top `fbDocs` documents;
    * the `fbTerms` strongest terms of that feedback set (by Σtf · idf,
    * excluding terms the query already has) join the query at weight
    * `expWeight`; a second pass rescores with the expanded term set —
    * the classic lexical fix for vocabulary mismatch, deployed
    * wherever BM25 is.
    *
    * Scale shape: both passes are the [[bm25FromPostings]] plan
    * (broadcast query side, posting join, TopKAgg); the expansion
    * stage is feedback-sized — |Q|·fbDocs docs fan out to their
    * posting rows once, and the term-pick window partitions on
    * query_id over that bounded set. Determinism: idf through the
    * quant6 ln law, the per-term weight quantized with the expansion
    * weight INSIDE the quantum, DECIMAL accumulation — and for
    * original terms wq = 1.0 is an exact IEEE no-op, so the unexpanded
    * part of the score is bit-identical to the plain chain.
    */
  def bm25Prf(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
              fbDocs: Int = 3, fbTerms: Int = 2, expWeight: Double = 0.5,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import Similarity.quant6
    val tf = docPostings(documents)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val gidf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats.select("n_docs")))
      .select(col("term"),
        quant6(log((col("n_docs") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))).as("idf"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("term"))
    val fb = bm25FromPostings(tf, nQueries, fbDocs, k1, b)
      .select(col("query_id"), col("neighbor_id").as("fb_doc"))
    val exq = fb
      .join(tf.select(col("doc_id").as("fb_doc"), col("term"), col("tf")),
        "fb_doc")
      .join(gidf, "term")
      .groupBy("query_id", "term")
      .agg(sum("tf").as("fbtf"), max("idf").as("idf"))
      .join(qterms.withColumn("own", lit(1)), Seq("query_id", "term"), "left")
      .filter(col("own").isNull)
    val wt = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy((col("fbtf") * col("idf")).desc, col("term"))
    val expt = exq.withColumn("trk", row_number().over(wt))
      .filter(col("trk") <= fbTerms)
      .select(col("query_id"), col("term"), col("idf"),
        lit(expWeight).as("wq"))
    val qall = qterms.join(gidf, "term")
      .select(col("query_id"), col("term"), col("idf"), lit(1.0).as("wq"))
      .unionByName(expt)
    val scored = tf.join(dl, "doc_id")
      .crossJoin(broadcast(stats.select("avgdl")))
      .join(broadcast(qall), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        quant6(col("wq") * col("idf") *
          (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
          (col("tf").cast("double") + lit(k1) *
            ((lit(1.0) - lit(b)) + lit(b) *
              (col("dl").cast("double") / col("avgdl"))))).as("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w").cast("decimal(18,6)")).cast("double").as("s"))
      .select(col("query_id"), col("doc_id").as("cand_id"), col("s"))
    Similarity.rankedTopK(scored, k, "prf")
  }

  /** PHRASE retrieval over POSITIONAL postings (q_phrase_topk) — the
    * exact-phrase query surface a lexical engine adds once its posting
    * store carries positions: each query's leading bigram must appear
    * as ADJACENT tokens in a candidate (BM25's bag-of-words cannot
    * distinguish "new york" from "york new"), candidates ranked by
    * occurrence count. The positional self-join is the classic
    * inverted-index phrase intersection (Manning et al., IR ch. 2.4),
    * done relationally: postings for the phrase's words only, paired on
    * (doc, pos+1).
    *
    * Scale shape: the posting scan is filtered to the QUERY WORDS
    * before any join (broadcast term list → the pair join touches two
    * posting lists per phrase, never the corpus); the adjacency join
    * keys on (doc_id, pos), co-partitioned with the tokenize stage; the
    * rank window is query_id-led over phrase-matching docs only. Pure
    * integer arithmetic — no float crosses the oracle boundary.
    */
  def phraseTopK(documents: DataFrame, nQueries: Long = 10,
                 k: Int = 5): DataFrame =
    phraseFromPositions(positionalPostings(documents),
      phraseQueries(documents, nQueries), k)

  /** The POSITIONAL posting table (doc_id, pos, term) — the index
    * artifact phrase queries need and the bag-of-words store
    * ([[docPostings]]) discards. One tokenize + posexplode pass;
    * [[buildPositionalIndex]] persists exactly this frame.
    */
  def positionalPostings(documents: DataFrame): DataFrame =
    documents.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))

  /** Each query document's leading bigram — the phrase workload. */
  private def phraseQueries(documents: DataFrame, nQueries: Long): DataFrame =
    documents.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("query_id"), col("toks").getItem(0).as("w1"),
        col("toks").getItem(1).as("w2"))

  /** The phrase-intersection core shared by the inline [[phraseTopK]]
    * and the from-files [[phraseSavedRoundtrip]] — a positional store IS
    * the whole phrase index, so both serve surfaces are value-identical
    * by construction (the [[bm25FromPostings]] contract, positions
    * included).
    */
  private def phraseFromPositions(pos: DataFrame, phr: DataFrame,
                                  k: Int): DataFrame = {
    val words = phr.select(col("w1").as("term"))
      .union(phr.select(col("w2").as("term"))).distinct()
    val cand = pos.join(broadcast(words), "term")
    val firsts = cand.join(broadcast(phr), col("term") === col("w1"))
      .select(col("query_id"), col("doc_id"), col("pos"), col("w2"))
    val occ = firsts.join(
        cand.select(col("doc_id"), col("term").as("w2"),
          (col("pos") - 1).as("pos")),
        Seq("doc_id", "pos", "w2"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_phrase"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("n_phrase").desc, col("doc_id"))
    occ.withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("doc_id").as("neighbor_id"), col("n_phrase"))
      .orderBy("query_id", "rank")
  }

  /** Persist the positional index (q_phrase_saved): the (doc_id, pos,
    * term) table written doc_id-bucketed — the same store layout as
    * [[buildLexicalIndex]], one position-bearing row per token instead
    * of one per distinct term (the storage price of phrase capability;
    * real engines pay it the same way in their position lists).
    */
  def buildPositionalIndex(documents: DataFrame, dir: String,
                           nBuckets: Int = 16): Unit =
    positionalPostings(documents)
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** Serve the phrase workload from saved positional artifacts — no
    * corpus tokenization on the serve path (the query bigrams still
    * derive from the query documents; a deployment would take them from
    * the request). Also the serve stage of the streaming-maintained
    * store ([[graft.streaming.StreamOps.streamPhraseFresh]]).
    */
  def searchPositionalIndex(spark: org.apache.spark.sql.SparkSession,
                            dir: String, documents: DataFrame,
                            nQueries: Long = 10, k: Int = 5): DataFrame =
    phraseFromPositions(
      spark.read.parquet(dir).select("doc_id", "pos", "term"),
      phraseQueries(documents, nQueries), k)

  /** Build the positional index to files, then serve from the artifacts.
    * Shares q_phrase_topk's oracle verbatim: the deployed phrase plan
    * must lose nothing vs inline.
    */
  def phraseSavedRoundtrip(spark: org.apache.spark.sql.SparkSession,
                           documents: DataFrame, nQueries: Long = 10,
                           k: Int = 5): DataFrame = {
    val dir = newStoreDir()
    buildPositionalIndex(documents, dir)
    searchPositionalIndex(spark, dir, documents, nQueries, k)
  }

  /** CURRICULUM SCHEDULE (q_curriculum) — the phase plan of a
    * quality-ordered training run: every document graded by the
    * [[qualityScore]] composite, globally ranked best-first, and cut
    * into `phases` equal-count phases (phase 1 = the cleanest quarter
    * the run warms up on; later phases mix in the noisier tail — the
    * curriculum-learning recipe of Bengio et al. 2009 applied to corpus
    * quality). Emits the per-phase census a training launcher consumes:
    * document count, token budget, and the quality band (min/mean/max).
    *
    * Scale shape: grading is one scan; the global order rides
    * [[withGlobalRank]] (range partitions + census offsets, never a
    * one-partition window); the phase cut is integer arithmetic on
    * (rank, N) with N a broadcast scalar census; the census is
    * `phases` rows. Determinism: the composite passes quant6 (it feeds
    * ordering and the mean — not a display round), ties rank by doc_id,
    * phase = (phases·(rk−1)) DIV N, means accumulate DECIMAL(18,6).
    */
  def curriculumSchedule(documents: DataFrame, phases: Int = 4): DataFrame = {
    import Similarity.quant6
    val stopArr = array(stopwordsEn.map(lit): _*)
    val scored = documents.repartition(col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_chars_txt", length(col("text")))
      .withColumn("n_alnum",
        length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stopArr, t))))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tok"),
        quant6(
          lit(0.4) * (when(col("n_tokens") > 0,
              col("n_stop").cast("double") / col("n_tokens"))
            .otherwise(lit(0.0)))
          + lit(0.3) * (when(col("n_chars_txt") > 0,
              col("n_alnum").cast("double") / col("n_chars_txt"))
            .otherwise(lit(0.0)))
          + lit(0.3) * (least(col("n_tokens"), lit(100)).cast("double")
              / lit(100.0))).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val nd = scored.agg(count(lit(1)).as("n_all"))
    scored.transform(withGlobalRank("rk", col("q").desc, col("doc_id")))
      .crossJoin(broadcast(nd))
      .withColumn("phase", expr(s"(($phases * (rk - 1)) DIV n_all) + 1"))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("phase_tokens"),
        round(min(col("q")), 6).as("q_min"),
        round(sum(col("q").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("q_mean"),
        round(max(col("q")), 6).as("q_max"))
      .orderBy("phase")
  }

  /** Per-document KEYWORD extraction (q_keywords): each document's top
    * `perDoc` terms by the log-free tf·(N/df) weight ([[tfidf]]'s
    * rational-idf device — same ranking order as ln(N/df), every step
    * IEEE-exact). The labeling/tagging pass a curation pipeline runs to
    * attach topical keys to documents (dataset cards, topic routing,
    * facet search). Scale shape: one posting pass + a broadcast scalar
    * N + the df aggregation; the per-doc rank window partitions on
    * doc_id — corpus-cardinality, embarrassingly parallel, ≤|terms per
    * doc| rows per task. Determinism: weight = tf·N/df is one multiply
    * one divide on integers, ties break (weight DESC, term ASC).
    */
  def keywords(documents: DataFrame, perDoc: Int = 3): DataFrame = {
    val tf = docPostings(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val n = documents.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("w").desc, col("term"))
    tf.join(dfr, "term")
      .crossJoin(broadcast(n))
      .withColumn("w",
        col("tf").cast("double") * col("n_docs") / col("df").cast("double"))
      .withColumn("kw_rank", row_number().over(w).cast("long"))
      .filter(col("kw_rank") <= perDoc)
      .select(col("doc_id"), col("kw_rank"), col("term"),
        round(col("w"), 6).as("weight"))
      .orderBy("doc_id", "kw_rank")
  }

  /** Tokenizer FERTILITY per language (q_token_fertility): BPE-ish
    * tokens per whitespace word — the multilingual tokenizer-fairness
    * metric (a language whose words fragment into many subword tokens
    * pays more compute per word and effectively shrinks its context
    * window; pretraining mixture decisions weight by exactly this).
    * One codegen'd scan (two regexp counts per row), a per-language
    * hash aggregation, and one division — fertility = Σbpe/Σws as a
    * single IEEE op on exact integer sums.
    */
  def tokenFertility(documents: DataFrame): DataFrame =
    documents
      .withColumn("lower_text", lower(col("text")))
      .withColumn("n_ws", size(split(trim(col("lower_text")), "\\s+")))
      .withColumn("n_bpe",
        size(regexp_extract_all(col("lower_text"), lit(bpePattern), lit(0))))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_ws")).as("ws_tokens"),
           sum(col("n_bpe")).as("bpe_tokens"))
      .withColumn("fertility",
        round(col("bpe_tokens").cast("double") /
          col("ws_tokens").cast("double"), 6))
      .orderBy("lang")

  /** QUERY-LIKELIHOOD retrieval with Dirichlet smoothing
    * (q_ql_dirichlet, Zhai & Lafferty 2001) — the second classic
    * lexical ranking model next to Okapi BM25: score(q,d) =
    * Σ_{t∈q∩d} qtf_t · ln(1 + tf_td·|C| / (μ·ctf_t))
    * + |q| · ln(μ / (dl_d + μ)), the standard rank-equivalent
    * decomposition of Π P(t|θ_d) under Dirichlet smoothing — one
    * matched-term part that runs over the posting join, and one
    * document-length part that attaches per candidate. Candidates are
    * the documents sharing ≥1 term with the query (the posting-list
    * candidate generation every practical lexical engine uses — a doc
    * with zero matches has no posting row to score).
    *
    * Scale shape: identical to [[bm25TopK]] — one tokenize + hash-agg
    * posting pass, corpus stats as broadcast scalars, the query side
    * broadcast, TopKAgg bounding the shuffle. Determinism: each ln —
    * the one transcendental — is immediately quantized (quant6), the
    * qtf·ln and qlen·ln products are quantized after one IEEE
    * multiply, matched weights sum as DECIMAL(18,6), and the final
    * two-term addition is a single fixed-order IEEE op.
    */
  def qlDirichletTopK(documents: DataFrame, nQueries: Long = 10,
                      k: Int = 5, mu: Double = 100.0): DataFrame =
    qlFromPostings(
      docPostings(documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(graft.CacheRegistry.track),
      nQueries, k, mu)

  /** QL scoring core over a posting table — the serve path shared by
    * the inline [[qlDirichletTopK]] and the from-files [[qlSavedRoundtrip]]:
    * like [[bm25FromPostings]], every global statistic (dl, ctf, |C|)
    * derives from the postings themselves, so the ONE persisted lexical
    * artifact ([[buildLexicalIndex]]'s posting store) serves BOTH
    * scoring models — build once, score under any model, with
    * serve-from-store value-identical to inline by construction.
    */
  def qlFromPostings(tf: DataFrame, nQueries: Long = 10,
                     k: Int = 5, mu: Double = 100.0): DataFrame = {
    import Similarity.quant6
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val ctf = tf.groupBy("term").agg(sum("tf").as("ctf"))
    val corp = tf.agg(sum("tf").cast("double").as("c"))
    val qt = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("term"), col("tf").as("qtf"))
    val qlen = qt.groupBy("q_id").agg(sum("qtf").as("qlen"))
    // query terms with their corpus stats attached — query-sized, broadcast
    val qstats = qt.join(ctf, "term").crossJoin(broadcast(corp))
    val matched = tf.join(broadcast(qstats), Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id"),
        quant6(col("qtf").cast("double") *
          quant6(log(lit(1.0) + col("tf").cast("double") * col("c") /
            (lit(mu) * col("ctf").cast("double"))))).as("w"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("w").cast("decimal(18,6)")).cast("double").as("sw"))
    val scored = matched
      .join(dl, "doc_id")
      .join(broadcast(qlen), "q_id")
      .select(col("q_id").as("query_id"), col("doc_id").as("cand_id"),
        (col("sw") + quant6(col("qlen").cast("double") *
          quant6(log(lit(mu) / (col("dl").cast("double") + lit(mu))))))
          .as("s"))
    Similarity.rankedTopK(scored, k, "ql")
  }

  /** SNIPPET extraction (q_snippets) — search-result passage
    * highlighting: for each query's BM25 top-`mDocs` documents, the
    * best `win`-token window by distinct-query-term coverage (tie:
    * earliest window) with its (start_tok, n_tok) span — what a search
    * UI shows under each hit, and what a RAG prompt-builder quotes
    * when whole documents don't fit the context budget. Stride-`stride`
    * windows cover every token position (stride ≤ win), so a retrieved
    * doc always yields a snippet (a BM25 hit shares ≥1 term by
    * construction).
    *
    * Scale shape: list-sized after the bounded BM25 stage — the
    * |Q|·mDocs shortlist broadcasts into ONE pruned documents pass
    * (the corpus is never shuffled for texts), windows fan out
    * per-candidate-doc only, query terms broadcast, and the best-window
    * argmax partitions on (query_id, doc_id). Determinism: integer
    * coverage counts, (n_matched DESC, start_tok) tie-break.
    */
  def snippets(documents: DataFrame, nQueries: Long = 10, k: Int = 5,
               mDocs: Int = 3, win: Int = 16, stride: Int = 8): DataFrame = {
    require(stride > 0 && stride <= win, "need 0 < stride <= win")
    val hits = bm25TopK(documents, nQueries, mDocs)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
    val qterms = docPostings(documents)
      .filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("term")).distinct()
    val cand = documents.join(broadcast(hits), "doc_id")
      .select(col("query_id"), col("rank"), col("doc_id"),
        tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    val wins = cand
      .select(col("query_id"), col("rank"), col("doc_id"), col("toks"),
        col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride)))
          .as(Seq("_w", "start")))
      .withColumn("n_tok", least(lit(win), col("n") - col("start")))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("start").cast("long").as("start_tok"),
        col("n_tok").cast("long").as("n_tok"),
        explode(array_distinct(
          slice(col("toks"), col("start") + 1, col("n_tok")))).as("term"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id", "doc_id")
      .orderBy(col("n_matched").desc, col("start_tok"))
    wins
      .join(broadcast(qterms.withColumnRenamed("term", "qt_term")),
        col("query_id") === col("q_id") && col("term") === col("qt_term"))
      .groupBy("query_id", "rank", "doc_id", "start_tok", "n_tok")
      .agg(count_distinct(col("term")).as("n_matched"))
      .withColumn("brn", row_number().over(wq))
      .filter(col("brn") === 1)
      .select(col("query_id"), col("rank"), col("doc_id"), col("start_tok"),
        col("n_tok"), col("n_matched"))
      .orderBy("query_id", "rank")
  }

  /** Persist the lexical index (q_bm25_saved): the posting table
    * written doc_id-bucketed — the SAME store layout the streaming
    * maintenance path upserts into, so offline build and live upsert
    * are interchangeable producers of one artifact. The index is one
    * skinny (doc_id, term, tf) table: ~|distinct terms per doc| rows
    * per document, no raw text retained.
    */
  def buildLexicalIndex(documents: DataFrame, dir: String,
                        nBuckets: Int = 16): Unit =
    docPostings(documents)
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)).cast("int"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** Serve BM25 from the saved posting artifacts — the deployed form
    * of [[bm25TopK]]: no tokenization, no corpus scan; global stats
    * recompute from the store in the same aggregation the inline plan
    * runs, so the serve is value-identical to inline by construction
    * (q_bm25_saved shares q_bm25_topk's oracle verbatim).
    */
  def searchLexicalIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, nQueries: Long = 10, k: Int = 5,
                         k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromPostings(
      spark.read.parquet(dir).select("doc_id", "term", "tf"),
      nQueries, k, k1, b)

  /** Build + serve round-trip for the oracle harness. */
  def bm25SavedRoundtrip(spark: org.apache.spark.sql.SparkSession,
                         documents: DataFrame, nQueries: Long = 10,
                         k: Int = 5): DataFrame = {
    val dir = newStoreDir()
    buildLexicalIndex(documents, dir)
    searchLexicalIndex(spark, dir, nQueries, k)
  }

  /** QL served from the SAME posting store BM25 serves from
    * (q_ql_saved): one lexical artifact, many scoring models — the
    * store carries no model-specific state, so adding a ranking model
    * costs zero re-indexing. Shares q_ql_dirichlet's oracle verbatim.
    */
  def qlSavedRoundtrip(spark: org.apache.spark.sql.SparkSession,
                       documents: DataFrame, nQueries: Long = 10,
                       k: Int = 5): DataFrame = {
    val dir = newStoreDir()
    buildLexicalIndex(documents, dir)
    qlFromPostings(
      spark.read.parquet(dir).select("doc_id", "term", "tf"), nQueries, k)
  }

  /** A fresh per-run dir for a throwaway artifact store (posting store,
    * vector store, MV store), removed at JVM exit by [[graft.Scratch]]. */
  private[graft] def newStoreDir(): String = graft.Scratch.dir("store")

  /** Deterministic train/valid/test split (80/10/10) by content-stable
    * hash of the document key: the split a training-data pipeline needs
    * to be reproducible across engines, runs, and repartitionings —
    * properties rand()-based sampleBy cannot give. The md5-derived
    * 60-bit hash (NearDup.md5Hash60) mod 100 buckets each doc; summary
    * stats per split prove the routing end-to-end against the oracle.
    */
  def hashSplit(documents: DataFrame): DataFrame =
    documents
      // single-file local layout scans as one split — spread the md5 +
      // length work across cores (same treatment as the sibling
      // documents-table operators; at cluster scale this is a no-op cost
      // next to the shuffle the groupBy needs anyway)
      .repartition(col("doc_id"))
      .withColumn("h",
        pmod(NearDup.md5Hash60(col("doc_id").cast("string")), lit(100)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "valid")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           sum(length(col("text")).cast("long")).as("n_chars"),
           countDistinct(col("lang")).as("n_langs"))
      .orderBy("split")

  /** Per-language sampling rates (per-mille) for [[stratifiedSample]]:
    * the "keep half the English, a fifth of the German, a tenth of the
    * rest" rebalancing a multilingual corpus build applies.
    */
  val sampleRatesPerMille: Map[String, Int] = Map("en" -> 500, "de" -> 200)
  val defaultRatePerMille: Int = 100

  /** Deterministic STRATIFIED sampling: each language keeps its own
    * fraction, routed by the same content-stable md5 hash as
    * [[hashSplit]] (mod 1000) — reproducible across engines, runs, and
    * partitionings, where `sampleBy`'s rand() is not. Summary output per
    * stratum proves the routing: sampled counts land within the exact
    * hash-bucket census, never a probabilistic neighborhood.
    */
  def stratifiedSample(documents: DataFrame): DataFrame = {
    val rate = sampleRatesPerMille.foldLeft(lit(defaultRatePerMille)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    documents
      .repartition(col("doc_id"))
      .withColumn("h",
        pmod(NearDup.md5Hash60(col("doc_id").cast("string")), lit(1000)))
      .withColumn("keep", (col("h") < rate).cast("int"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("keep")).cast("long").as("n_sampled"),
           sum(when(col("keep") === 1, length(col("text")).cast("long"))
             .otherwise(lit(0L))).as("sampled_chars"))
      .orderBy("lang")
  }

  /** Bigram LANGUAGE-MODEL counts: per (lang, w1, w2) the bigram count,
    * the w1-start total, and the conditional probability P(w2|w1) as an
    * exact rational rounded to 6 places (no log — transcendentals are not
    * identically rounded across engines; ranking and filtering work the
    * same on the rational). The denominator is computed over ALL bigrams
    * starting with w1 BEFORE the min-count filter, so probabilities stay
    * true probabilities. One explode + two hash aggs, shuffled on the
    * high-cardinality (lang, w1[, w2]) keys.
    */
  def bigramLm(documents: DataFrame, minCount: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang", "w1")
    documents.repartition(col("doc_id"))
      .select(col("lang"), explode(shingles(tokens(col("text")), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .groupBy("lang", "w1", "w2").agg(count(lit(1)).as("n"))
      .withColumn("n_w1", sum(col("n")).over(w))
      .filter(col("n") >= minCount)
      .select(col("lang"), col("w1"), col("w2"), col("n"),
              col("n_w1").cast("long").as("n_w1"),
              round(col("n").cast("double") / col("n_w1"), 6).as("p_cond"))
      .orderBy("lang", "w1", "w2")
  }

  /** DECONTAMINATION: find eval-split documents sharing word n-grams with
    * any train-split document — the test-set-contamination audit every
    * training-data pipeline runs before shipping a split. Splits come from
    * the same content-stable hash routing as [[hashSplit]], so the audit
    * is reproducible; overlap is exact n-gram matching through a shared-
    * shingle join (a contaminated pair must share a shingle — same
    * never-all-pairs shape as the near-dup inverted index). dfCutoff
    * prunes shingles hotter than the threshold before the join: at corpus
    * scale a stop-phrase shingle shared by 10^6 docs would make one
    * shuffle key quadratic, and such phrases are boilerplate, not
    * contamination evidence.
    */
  def decontamination(documents: DataFrame, n: Int = 5,
                      dfCutoff: Long = 100): DataFrame = {
    val docs = documents
      .repartition(col("doc_id"))
      .withColumn("h",
        pmod(NearDup.md5Hash60(col("doc_id").cast("string")), lit(100)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "valid")
          .otherwise("test"))
    val sh = docs.select(col("doc_id"), col("split"),
      explode(array_distinct(shingles(tokens(col("text")), n))).as("s"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s")
    val pruned = sh.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= dfCutoff).drop("df")
    val train = pruned.filter(col("split") === "train")
      .select(col("s"), col("doc_id").as("train_doc"))
    val eval = pruned.filter(col("split") =!= "train")
      .select(col("s"), col("split"), col("doc_id").as("eval_doc"))
    eval.join(train, "s")
      .groupBy("split", "eval_doc")
      .agg(countDistinct(col("s")).as("n_shared_ngrams"),
           countDistinct(col("train_doc")).as("n_train_docs"))
      .orderBy("split", "eval_doc")
  }

  /** Decontamination by OVERLAP FRACTION — the form eval-suite audits
    * actually gate on: an eval doc is contaminated when the fraction of
    * its distinct n-grams also found in the train split reaches τ, not
    * when a single n-gram matches. Same shared-shingle join + df-cutoff
    * pruning as [[decontamination]]; the denominator is the eval doc's
    * FULL distinct-shingle count (pre-cutoff) so boilerplate pruning can
    * only lower the reported fraction, never inflate it. Extra cost over
    * the count form: one per-doc size aggregate + a broadcast-sized join
    * back onto the (already small) contaminated set.
    */
  def decontaminationFraction(documents: DataFrame, n: Int = 5,
                              dfCutoff: Long = 100,
                              tau: Double = 0.2): DataFrame = {
    val docs = documents
      .repartition(col("doc_id"))
      .withColumn("h",
        pmod(NearDup.md5Hash60(col("doc_id").cast("string")), lit(100)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "valid")
          .otherwise("test"))
    val sh = docs.select(col("doc_id"), col("split"),
      explode(array_distinct(shingles(tokens(col("text")), n))).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // per-eval-doc total distinct shingles (pre-pruning denominator)
    val sizes = sh.filter(col("split") =!= "train")
      .groupBy(col("doc_id").as("eval_doc"))
      .agg(count(lit(1)).as("n_shingles"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s")
    val pruned = sh.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= dfCutoff).drop("df")
    val train = pruned.filter(col("split") === "train")
      .select(col("s"), col("doc_id").as("train_doc"))
    val eval = pruned.filter(col("split") =!= "train")
      .select(col("s"), col("split"), col("doc_id").as("eval_doc"))
    eval.join(train, "s")
      .groupBy("split", "eval_doc")
      .agg(countDistinct(col("s")).as("n_shared_ngrams"))
      .join(sizes, "eval_doc")
      .withColumn("contaminated_frac",
        round(col("n_shared_ngrams").cast("double") / col("n_shingles"), 6))
      .filter(col("contaminated_frac") >= tau)
      .select("split", "eval_doc", "n_shingles", "n_shared_ngrams",
              "contaminated_frac")
      .orderBy("split", "eval_doc")
  }

  /** Tokenizer VOCABULARY build: the top-k corpus terms by frequency with
    * contiguous token ids in (freq desc, term) order — the vocab-training
    * step before BPE merges. The global ordering problem is bounded by
    * construction: the distributed part is a plain hash agg + top-k
    * (orderBy+limit = TakeOrdered, no full sort materialization); the
    * row_number id assignment runs over only the k surviving rows.
    */
  def vocabulary(documents: DataFrame, topK: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    documents.repartition(col("doc_id"))
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(topK)
      .withColumn("token_id", (row_number().over(w) - 1).cast("long"))
      .select("token_id", "term", "freq")
      .orderBy("token_id")
  }

  /** Vocabulary COVERAGE / OOV rate: per document, the fraction of its
    * tokens found in the top-k corpus vocabulary — the metric that decides
    * whether a tokenizer's vocab budget fits a corpus (and the per-doc
    * OOV-rate filter some pipelines gate on). The vocab is TakeOrdered-
    * small and broadcast; the scan side is one explode + hash agg keyed
    * on doc_id. Docs with zero tokens have no coverage row (no tokens to
    * cover) — same convention in the oracle.
    */
  def vocabCoverage(documents: DataFrame, topK: Int): DataFrame = {
    val vocab = vocabulary(documents, topK)
      .select(col("term"), lit(1).as("in_vocab"))
    documents.repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(coalesce(col("in_vocab"), lit(0))).cast("long").as("n_in_vocab"))
      .withColumn("coverage",
        round(col("n_in_vocab").cast("double") / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  /** Training-sequence PACKING: assign documents (in stable doc_id order
    * per language) to fixed-token-budget bins — the "pack documents into
    * 2048-token training sequences" step of an LLM data pipeline. The bin
    * of a doc is floor(tokens_before_it / budget) over a running token
    * count, i.e. offset-based first-fit: deterministic, one pass, and
    * expressible identically in both engines (an exact
    * reset-on-overflow greedy is inherently sequential; offset packing is
    * the distributable form real pipelines use, bins overflow by at most
    * one document). Output: per (lang, bin) document count and token
    * total, plus the max single-doc token count as an overflow witness.
    * Scale shape: the running sum is [[withGroupedPrefix]] — range
    * partitions + per-(lang, partition) local sums + census offsets —
    * NOT a lang-keyed window: languages are few and skewed (English is
    * most of a real corpus), so a plain grouped window would push the
    * dominant language through one task. Tokenization happens in the
    * hash-partitioned scan stage before the skinny (doc_id, lang, n_tok)
    * rows enter the range exchange; one grouped-prefix pass + one hash
    * agg, all parallel in the corpus.
    */
  def sequencePacking(documents: DataFrame, budget: Long): DataFrame =
    documents
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .transform(withGroupedPrefix(Seq("lang"), "_rk", "cum_before",
        col("n_tok"), col("doc_id")))
      .withColumn("bin", expr(s"cum_before DIV $budget")) // exact integer division
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("bin_tokens"),
           max(col("n_tok")).as("max_doc_tokens"))
      .orderBy("lang", "bin")

  /** T5-STYLE SPAN CORRUPTION prep (q_span_corrupt; Raffel et al. 2020
    * §3.1.4) — the denoising-objective stage of an encoder-decoder
    * pretrain pipeline: deterministic span selection over each
    * document's token stream, adjacent/overlapping selections merged
    * into maximal spans (exactly as T5 collapses consecutive masked
    * tokens under one sentinel), emitted as the per-span TARGET table
    * (doc_id, span_ord, start_tok, n_tok, target_text). span_ord is the
    * sentinel index: the model input is the token stream with span
    * `span_ord` replaced by `<extra_id_{span_ord}>`, reconstructible
    * from this table plus the tokens — the training-pair prep, stored
    * relationally so downstream packing composes.
    *
    * Span selection is content-stable (the [[hashSplit]] device one
    * level down): position `p` STARTS a span iff md5Hash60(doc_id:p)
    * mod `rate` = 0, and a token is masked iff a start falls within the
    * previous `spanLen` positions — expected mask fraction
    * ≈ spanLen/rate (15% at the defaults), reproducible across runs,
    * engines, and corpus repartitions.
    *
    * Scale shape: tokenize + posexplode in the doc_id-partitioned scan;
    * the mask window and the island grouping (gaps-and-islands via
    * pos − row_number) are doc_id-led windows — corpus-cardinality
    * parallel, ≤ doc-length rows per task; the span census is one hash
    * agg. Determinism: pure integer/md5 arithmetic, target text
    * reassembled in exact pos order — no floats anywhere.
    */
  def spanCorruption(documents: DataFrame, spanLen: Int = 3,
                     rate: Int = 20): DataFrame =
    spanCorruptionUnordered(documents, spanLen, rate)
      .orderBy("doc_id", "span_ord")

  /** Unordered form for composition ([[denoiseManifest]]) — the trailing
    * orderBy is the oracle-determinism contract only, and must not leak
    * a range exchange into composed plans.
    */
  private[operators] def spanCorruptionUnordered(documents: DataFrame,
      spanLen: Int = 3, rate: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val masked = documents.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("selp",
        (pmod(NearDup.md5Hash60(concat(col("doc_id").cast("string"),
          lit(":"), col("pos").cast("string"))), lit(rate.toLong)) === 0)
          .cast("int"))
      .withColumn("m",
        max(col("selp")).over(w.rowsBetween(-(spanLen - 1), 0)) === 1)
      .filter(col("m"))
    masked
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        count(lit(1)).as("n_tok"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("target_text"))
      .withColumn("span_ord", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("start_tok")).cast("long"))
      .select(col("doc_id"), col("span_ord"), col("start_tok"),
        col("n_tok"), col("target_text"))
  }

  /** DENOISING-PRETRAIN MANIFEST (q_denoise_manifest) — the
    * encoder-decoder twin of q_pretrain_manifest: [[spanCorruption]]'s
    * span table collapsed to a per-document census (n_spans, n_masked),
    * converted to the T5 sequence-length law — input = n_tok − n_masked
    * + n_spans sentinels, target = n_masked + n_spans sentinels — and
    * packed into `budget`-token bins per language on the INPUT length
    * (the encoder side is what a batch's memory is provisioned for).
    * Emits per (lang, bin) the document count, both token budgets, and
    * the max single input as the overflow witness — the manifest a
    * denoising-objective training launcher consumes.
    *
    * Scale shape: the span census is [[spanCorruptionUnordered]]'s
    * doc-led plan + one hash agg; the length table joins it back on
    * doc_id (corpus-keyed hash join, no broadcast needed and none
    * taken); packing rides [[withGroupedPrefix]] exactly as
    * q_seq_packing does. All-integer arithmetic.
    */
  def denoiseManifest(documents: DataFrame, budget: Long = 2048L): DataFrame = {
    val spanCensus = spanCorruptionUnordered(documents)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("n_tok")).as("n_masked"))
    documents.repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .join(spanCensus, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"))
      .withColumn("input_len",
        col("n_tok") - col("n_masked") + col("n_spans"))
      .withColumn("target_len", col("n_masked") + col("n_spans"))
      .transform(withGroupedPrefix(Seq("lang"), "_rk", "cum_before",
        col("input_len"), col("doc_id")))
      .withColumn("bin", expr(s"cum_before DIV $budget"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("input_len")).as("bin_input_tokens"),
        sum(col("target_len")).as("bin_target_tokens"),
        max(col("input_len")).as("max_input_tokens"))
      .orderBy("lang", "bin")
  }

  /** Sliding-window document CHUNKING with token overlap — the retrieval/
    * context-window prep stage every RAG and long-context pretraining
    * pipeline runs between curation and embedding: each document becomes
    * `ceil(n_tok / stride)` chunks of up to `size` tokens starting every
    * `stride` tokens (consecutive chunks share `size - stride` tokens of
    * overlap; the tail chunk may be shorter). Emits per chunk the token
    * offsets plus an md5 content hash — the join key downstream chunk-level
    * dedup and embedding stores use.
    *
    * Scale shape: pure per-document expression work — tokenize once,
    * `posexplode` a stride sequence, slice — with NO shuffle before the
    * emission ordering (the trailing orderBy is the oracle-determinism
    * contract; composition uses the frame before it). Chunks-per-doc is
    * bounded by document length, so the fan-out is corpus-linear and
    * embarrassingly parallel over documents at any corpus size.
    */
  def chunkDocuments(documents: DataFrame, size: Int = 64,
                     stride: Int = 48): DataFrame =
    chunkDocumentsUnordered(documents, size, stride).orderBy("doc_id", "chunk_id")

  /** Unordered form for composition ([[chunkDedup]]). */
  def chunkDocumentsUnordered(documents: DataFrame, size: Int,
                              stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    documents
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride)))
          .as(Seq("chunk_id", "start")))
      .withColumn("n_tok", least(lit(size), col("n") - col("start")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        col("n_tok").cast("long").as("n_tok"),
        md5(concat_ws(" ", slice(col("toks"), col("start") + 1, col("n_tok"))))
          .as("chunk_hash"))
  }

  /** CHUNK-LEVEL cross-document dedup census — the granularity a RAG /
    * embedding store actually dedups at: a chunk is duplicated iff its
    * content hash appears in ≥ 2 distinct documents (within-doc repeats
    * are q_repetition's job), and each document reports how much of it is
    * made of such shared chunks. Composes [[chunkDocumentsUnordered]]
    * with the same duplicated-key census shape as NearDup.substringDedup.
    *
    * Scale shape: chunks carry only (doc_id, chunk_id, hash) — text never
    * leaves the chunker — and the census is two hash-shuffles on the
    * 16-byte hash key plus one on doc_id; no pairwise comparison exists
    * anywhere, so cost is chunk-count-linear at any corpus size.
    */
  def chunkDedup(documents: DataFrame, size: Int = 64,
                 stride: Int = 48): DataFrame = {
    val ch = chunkDocumentsUnordered(documents, size, stride)
      .select("doc_id", "chunk_id", "chunk_hash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val dup = ch.groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("chunk_hash")
    val perDoc = ch.join(dup, Seq("chunk_hash"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"))
    ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        round(coalesce(col("n_dup_chunks"), lit(0L)).cast("double") /
          col("n_chunks"), 6).as("dup_chunk_frac"))
      .orderBy("doc_id")
  }

  /** Intra-document REPETITION signals (the Gopher-family repetition
    * filters, arXiv:2112.11446 §A1.1, in their n-gram form — this corpus
    * has no line structure): per document the fraction of bigram mass in
    * the single most frequent bigram, the fraction of trigram mass in
    * trigrams occurring more than once, and the distinct-token ratio.
    * High values = the looping/boilerplate degeneracy a pretraining
    * filter drops. Pure per-doc work: two explode+count aggregations
    * shuffled on (doc_id, gram) — embarrassingly parallel over documents,
    * no cross-document state at any scale. All ratios are exact rationals
    * rounded to 6 (cross-engine hashable).
    */
  def repetitionSignals(documents: DataFrame): DataFrame =
    repetitionSignalsUnordered(documents).orderBy("doc_id")

  /** Unordered form for composition (Pipeline.curate). */
  def repetitionSignalsUnordered(documents: DataFrame): DataFrame = {
    val toks = documents.repartition(col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    def gramStats(n: Int, maxCol: String, dupCol: String): DataFrame = toks
      .select(col("doc_id"), explode(shingles(col("toks"), n)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as(s"n$n"),
           max(col("c")).as(maxCol),
           sum(when(col("c") > 1, col("c")).otherwise(lit(0))).as(dupCol))
    val base = toks.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    base
      .join(gramStats(2, "max2", "dup2"), Seq("doc_id"), "left")
      .join(gramStats(3, "max3", "dup3"), Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        round(when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)), 6).as("distinct_ratio"),
        round(when(coalesce(col("n2"), lit(0L)) > 0,
          col("max2").cast("double") / col("n2")).otherwise(lit(0.0)), 6)
          .as("top_bigram_frac"),
        round(when(coalesce(col("n3"), lit(0L)) > 0,
          col("dup3").cast("double") / col("n3")).otherwise(lit(0.0)), 6)
          .as("dup_trigram_frac"))
  }

  /** Gopher-style RULE flags (arXiv:2112.11446 §A1.1, thresholds adapted
    * to this corpus' scale): per document, word-count bounds, mean-word-
    * length bounds, symbol-to-word ratio, and stopword presence, plus the
    * conjunctive pass flag — the boolean-gate form quality filtering
    * ships (vs [[qualityScore]]'s soft score). One scan, zero shuffles
    * before the trailing oracle sort.
    */
  def gopherRules(documents: DataFrame, minWords: Long = 20,
                  maxWords: Long = 100000): DataFrame =
    gopherRulesUnordered(documents, minWords, maxWords).orderBy("doc_id")

  /** Unordered form for composition (Pipeline.curate) — the standalone
    * query's trailing orderBy is oracle-determinism only.
    */
  def gopherRulesUnordered(documents: DataFrame, minWords: Long = 20,
                           maxWords: Long = 100000): DataFrame = {
    val stopArr = array(stopwordsEn.map(lit): _*)
    documents.repartition(col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("mean_wlen",
        when(col("n_words") > 0,
          length(concat_ws("", col("toks"))).cast("double") / col("n_words"))
          .otherwise(lit(0.0)))
      .withColumn("n_symbols",
        (length(col("text")) -
         length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"), t => array_contains(stopArr, t))).cast("long"))
      .select(
        col("doc_id"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .cast("int").as("ok_word_count"),
        (col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0)
          .cast("int").as("ok_mean_word_len"),
        (col("n_words") > 0 &&
         col("n_symbols").cast("double") / col("n_words") <= lit(0.1))
          .cast("int").as("ok_symbol_ratio"),
        (col("n_stop") >= 2).cast("int").as("ok_stopwords"))
      .withColumn("pass",
        (col("ok_word_count") === 1 && col("ok_mean_word_len") === 1 &&
         col("ok_symbol_ratio") === 1 && col("ok_stopwords") === 1)
          .cast("int"))
  }

  /** BPE MERGE loop: the first `k` byte-pair merges over the corpus
    * vocabulary — the training step that turns [[vocabulary]]'s pre-merge
    * term counts into an actual subword tokenizer. Words start as
    * character sequences; each step counts adjacent symbol pairs weighted
    * by word frequency, picks the most frequent pair (ties break
    * lexicographically on the pair), and merges its non-overlapping
    * occurrences left-to-right in every word (classic greedy BPE; no
    * end-of-word marker, documented deviation from GPT-2-style BPE).
    * Output: the merge table (step, t1, t2, pair_count) — the artifact a
    * tokenizer ships.
    *
    * Scale shape: the loop state is the VOCABULARY (unique words ×
    * frequency), not the corpus — one initial corpus-wide hash agg, then
    * k iterations of (pair-count shuffle on the (t1,t2) key + a top-1
    * driver scalar, the same iterative-convergence scalar as k-means).
    * The per-word merge is an `aggregate` fold over the word's symbols:
    * interpreted, but over |vocab| rows × O(word length) steps — work
    * proportional to the vocabulary, which even at 100 TB of text is
    * millions of rows, not the corpus. localCheckpoint per iteration
    * truncates lineage exactly like [[NearDup.duplicateComponents]].
    */
  def bpeMerges(documents: DataFrame, k: Int): DataFrame =
    bpeChain(documents, k)._1

  /** Post-merge SUBWORD VOCABULARY census: after the first `k` merges,
    * every distinct subword with its corpus frequency and the number of
    * distinct words it appears in — the tokenizer's actual vocabulary
    * artifact (train → apply, completing [[bpeMerges]]). Derived from the
    * merge loop's final words state — no second training pass.
    */
  def bpeVocab(documents: DataFrame, k: Int): DataFrame =
    bpeChain(documents, k)._2
      .select(col("word"), col("freq"), explode(col("toks")).as("token"))
      .groupBy("token")
      .agg(sum(col("freq")).as("freq"),
           countDistinct(col("word")).as("n_words"))
      .orderBy("token")

  /** Corpus size under the TRAINED tokenizer: per language, word
    * occurrences and total subword tokens after the first `k` merges —
    * the number that actually sizes a training run (raw word counts
    * overstate it, character counts understate it). The corpus side is
    * one explode + a broadcast-sized join against the vocabulary's final
    * word → symbols mapping (every corpus word is in the vocabulary by
    * construction), then a per-lang hash agg.
    */
  def bpeTokenCount(documents: DataFrame, k: Int): DataFrame = {
    val wlen = bpeChain(documents, k)._2
      .select(col("word"), size(col("toks")).cast("long").as("n_sub"))
    documents.repartition(col("doc_id"))
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(wlen), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subword_tokens"))
      .orderBy("lang")
  }

  /** Word census with per-character symbol state — the BPE starting
    * point, shared by the training loop and [[bpeApply]]'s eval side.
    */
  private def wordChars(documents: DataFrame): DataFrame =
    documents.repartition(col("doc_id"))
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("toks",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** Greedy left-to-right application of ONE merge (a, b) to the `toks`
    * symbol list, as a fold: a merged symbol (a||b) can never equal the
    * left symbol `a`, so overlap resolution (e.g. "aaa" under pair
    * (a,a) → [aa, a]) falls out of the fold order. Shared by the
    * training loop and [[bpeApply]] so train and apply can never drift.
    */
  private def mergeFold(a: String, b: String): Column =
    aggregate(col("toks"),
      array().cast("array<string>"),
      (acc, t) => when(size(acc) > 0 &&
          element_at(acc, lit(-1)) === lit(a) && t === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(t))))

  /** Runaway guard for [[bpeChain]]'s k-jobs cost model (see scaladoc
    * there): callers wanting a production-size vocabulary must opt in
    * explicitly rather than silently schedule tens of thousands of
    * Spark jobs.
    */
  val MaxBpeMerges: Int =
    sys.env.get("SPARK_GRAFT_BPE_MAX_MERGES") match {
      case None => 1000
      case Some(v) =>
        // parsed defensively: a bare toInt in a val initializer would
        // surface a typo'd env value as ExceptionInInitializerError on
        // first TextAnalysis use, far from the cause
        scala.util.Try(v.trim.toInt).toOption.filter(_ > 0).getOrElse {
          System.err.println(
            s"[graft] WARNING: SPARK_GRAFT_BPE_MAX_MERGES='$v' is not a " +
            "positive integer; using default 1000")
          1000
        }
    }

  /** The ONE BPE loop behind [[bpeMerges]], [[bpeVocab]] and
    * [[bpeApply]]: k greedy merge steps, returning the merge table, the
    * final per-word symbol state, and the merge list itself (driver-side
    * — it IS driver state by construction, k scalar rows) for replay on
    * unseen text (same single-implementation discipline as the k-means
    * `lloydChain`).
    *
    * COST MODEL — k is a JOB count, not a row count: greedy BPE is
    * inherently sequential (merge i+1's pair counts depend on merge i's
    * rewrite), so each step is one distributed pair-count aggregation +
    * a limit(1) argmax — one Spark job over the VOCABULARY (word, freq)
    * frame (corpus-size-independent after [[wordChars]]). A 32k-vocab
    * tokenizer therefore implies ~32k sequential Spark jobs (hours of
    * scheduling floor even on an idle cluster); production trainers
    * (HuggingFace tokenizers, SentencePiece) run this phase on a single
    * node with a heap-maintained pair-count delta structure over the
    * deduplicated vocabulary — the right architecture there too: the
    * vocabulary fits one machine even at 100 TB corpus scale, and Spark's
    * job is the word-histogram reduction that feeds it. The
    * [[MaxBpeMerges]] guard (default 1000, env-overridable via
    * SPARK_GRAFT_BPE_MAX_MERGES) makes that tradeoff explicit instead of
    * letting a 32k-vocab call schedule 32k jobs unannounced.
    */
  private def bpeChain(documents: DataFrame, k: Int)
      : (DataFrame, DataFrame, Seq[(String, String)]) = {
    require(k <= MaxBpeMerges,
      s"k=$k BPE merges = $k sequential Spark jobs (one pair-count agg per " +
      s"merge) — beyond MaxBpeMerges=$MaxBpeMerges. For production-size " +
      "vocabularies run the merge loop driver-side over the word histogram " +
      "(see bpeChain scaladoc) or raise SPARK_GRAFT_BPE_MAX_MERGES.")
    val spark = documents.sparkSession
    var words = wordChars(documents).localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    for (step <- 1 to k) {
      val n = size(col("toks"))
      val top = words.filter(n >= 2)
        .select(col("freq"), explode(zip_with(
          slice(col("toks"), lit(1), n - 1),
          slice(col("toks"), lit(2), n - 1),
          (a, b) => struct(a.as("t1"), b.as("t2")))).as("p"))
        .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("t1"), col("t2"))
        .limit(1).collect()
      require(top.nonEmpty,
        s"BPE merge $step: vocabulary fully merged — k=$k exceeds the corpus' pair budget")
      val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((step.toLong, a, b, c))
      val prev = words
      words = words.withColumn("toks", mergeFold(a, b)).localCheckpoint()
      // the new generation's eager checkpoint consumed the old one —
      // release the superseded blocks instead of accumulating k of them
      // (the fixpoint device, r18)
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(prev)
    }
    import spark.implicits._
    (merges.toSeq.toDF("step", "t1", "t2", "pair_count").orderBy("step"),
     graft.CacheRegistry.trackCheckpoint(words),
     merges.toSeq.map { case (_, a, b, _) => (a, b) })
  }

  /** APPLY the trained tokenizer to UNSEEN text — the other half of
    * train → apply: train the k-merge BPE on the md5-routed train split
    * (the same content-stable routing as [[hashSplit]]), then segment
    * the HELD-OUT split's words by replaying the merge table in
    * training order. Char-level initialization makes every eval word
    * segmentable — including OOV words never seen in training, which a
    * vocabulary lookup (the [[bpeTokenCount]] shape) cannot handle;
    * unseen characters simply never merge. (The synthetic testdata's
    * closed 31-word vocabulary cannot produce OOV words under any doc
    * split, so the oracled query certifies cross-engine train→apply
    * replay equivalence; the OOV property itself is exercised in
    * TextAnalysisSpec on a constructed corpus.) Scale shape: the merge table
    * is driver/broadcast state (k scalar rows), each replay step is a
    * per-row fold over the EVAL VOCABULARY (never the corpus), and
    * localCheckpoint truncates the k-step lineage exactly like the
    * trainer's loop.
    */
  def bpeApply(documents: DataFrame, k: Int): DataFrame = {
    val h = pmod(NearDup.md5Hash60(col("doc_id").cast("string")), lit(100))
    val merges = bpeChain(documents.filter(h < 80), k)._3
    var words = wordChars(documents.filter(h >= 80)).localCheckpoint()
    merges.foreach { case (a, b) =>
      val prev = words
      words = words.withColumn("toks", mergeFold(a, b)).localCheckpoint()
      // superseded replay generation released immediately (r18)
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(prev)
    }
    graft.CacheRegistry.trackCheckpoint(words)
      .select(col("word"), col("freq"),
        size(col("toks")).cast("long").as("n_sub"),
        concat_ws("|", col("toks")).as("segmentation"))
      .orderBy("word")
  }

  /** Document fingerprinting: md5 over word 4-gram shingles, keeping the
    * minimum digest (a 1-permutation MinHash — the winnowing/rolling-hash
    * fingerprint family). Identical-content documents get identical
    * fingerprints regardless of partitioning; grouping by fingerprint is
    * the exact-near-dup clustering key at scale.
    */
  /** Unordered form for composition (Pipeline.e2e): the standalone
    * query's trailing orderBy is oracle-determinism, and left inside a
    * larger plan it becomes a useless global range-sort mid-pipeline.
    */
  def fingerprintsUnordered(documents: DataFrame, n: Int = 4): DataFrame =
    documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", shingles(col("toks"), n))
      .select(
        col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        when(size(col("sh")) > 0, array_min(transform(col("sh"), s => md5(s))))
          .otherwise(lit(null)).as("fingerprint"))

  def fingerprints(documents: DataFrame, n: Int = 4): DataFrame =
    fingerprintsUnordered(documents, n).orderBy("doc_id")

  // --------------------------------------------------------------------
  // MODEL-BASED CURATION: the three classic "train a cheap model on the
  // corpus, score the corpus with it" filters of an LLM data pipeline —
  // perplexity filtering (CCNet), quality classification (GPT-3-style
  // linear classifier, here Naive Bayes so training is pure counting),
  // and importance resampling (DSIR). All three share one determinism
  // device: [[surprisal6]].
  // --------------------------------------------------------------------

  /** Cross-engine-deterministic surprisal: `round(-ln(p), 6)` as
    * DECIMAL(18,6), so downstream sums are exact decimal arithmetic
    * (commutative — partial aggregation order cannot change the result).
    *
    * `p` is always a ratio of integer counts here, so the double reaching
    * `ln` is bit-identical in Spark and DuckDB; `ln` itself is the only
    * transcendental, and rounding its result to 6 decimals absorbs any
    * last-ulp libm disagreement. Verified empirically: 0 mismatches
    * between JVM `Math.log` (Spark's round = BigDecimal HALF_UP) and
    * DuckDB `round(-ln(x),6)` over the dense grid k/2^20 (k=1..2^20) AND
    * 1M pseudo-random count ratios a/b with a,b <= 10^6 — the entire
    * realistic input space of Laplace-smoothed count ratios.
    */
  private def surprisal6(p: Column): Column =
    round(-log(p), 6).cast("decimal(18,6)")

  /** PERPLEXITY FILTERING (CCNet): train a per-language bigram LM on the
    * train split, score every held-out document by its cross-entropy
    * under that LM, keep the low-perplexity (in-distribution) documents.
    * The model is Laplace-smoothed: P(w2|w1) = (n12+1)/(n1+V), with V the
    * per-language distinct-continuation count, so unseen bigrams and
    * unseen histories are both well-defined (p = 1/V at the floor).
    * Cross-entropy is the mean bigram surprisal in nats; perplexity =
    * exp(H) is monotone in H, so thresholding H is thresholding ppl.
    *
    * Scale shape: the LM "model" is a (lang, w1, w2) count table — it
    * stays DISTRIBUTED (a real corpus's bigram table does not fit on the
    * driver, much less in a broadcast). Scoring is one shuffle hash join
    * of exploded eval bigrams against the LM on its natural key, a
    * smaller join for the history totals, and a broadcast of the per-lang
    * vocabulary scalars. Documents with < 2 tokens have no bigrams and
    * are excluded (no LM evidence either way).
    */
  def lmPerplexity(documents: DataFrame, keepBelow: Double = 8.0): DataFrame = {
    val bigrams = documents.repartition(col("doc_id"))
      .withColumn("h",
        pmod(NearDup.md5Hash60(col("doc_id").cast("string")), lit(100)))
      .select(col("doc_id"), col("lang"), col("h"),
        explode(shingles(tokens(col("text")), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val train = bigrams.filter(col("h") < 80)
    val n12 = train.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("n12"))
    val n1 = n12.groupBy("lang", "w1")
      .agg(sum(col("n12")).cast("long").as("n1"))
    val vocab = train.groupBy("lang")
      .agg(countDistinct(col("w2")).as("v"))
    bigrams.filter(col("h") >= 80)
      .join(n12, Seq("lang", "w1", "w2"), "left")
      .join(n1, Seq("lang", "w1"), "left")
      .join(broadcast(vocab), Seq("lang"))
      .withColumn("s", surprisal6(
        (coalesce(col("n12"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("n1"), lit(0L)) + col("v")).cast("double")))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("nll"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        round(col("nll").cast("double") / col("n_bigrams"), 6)
          .as("cross_entropy"))
      .withColumn("keep", (col("cross_entropy") <= lit(keepBelow)).cast("int"))
      .orderBy("doc_id")
  }

  /** QUALITY CLASSIFIER (the GPT-3/PaLM "train a classifier on a
    * high-quality reference, score the crawl" gate): multinomial Naive
    * Bayes over unigram tokens. Training labels come from the Gopher
    * heuristic gates on the TRAIN split (the bootstrap every pipeline
    * uses before it has human labels); scoring assigns each held-out
    * document the class with the smaller negative log-likelihood
    * `-ln P(c) - sum_t ln P(t|c)`, Laplace-smoothed over the training
    * vocabulary. Naive Bayes rather than logistic regression because
    * training is two hash aggregations (counts) — no gradient loop — and
    * every probability is a ratio of integers, so the whole model AND its
    * scores hash-match the SQL oracle via [[surprisal6]].
    *
    * Scale shape: training = one groupBy(token) with a pivoted per-class
    * count pair; the model is token-keyed and stays distributed; class
    * totals and priors are 1-row broadcasts. Scoring = exploded eval
    * tokens hash-joined against the model on the token key, then one
    * per-document aggregation. Zero-token documents are excluded.
    */
  def nbQuality(documents: DataFrame): DataFrame = {
    val labeled = documents.repartition(col("doc_id"))
      .join(gopherRulesUnordered(documents).select(col("doc_id"), col("pass")),
        Seq("doc_id"))
      .withColumn("h",
        pmod(NearDup.md5Hash60(col("doc_id").cast("string")), lit(100)))
    val toks = labeled.select(col("doc_id"), col("h"), col("pass"),
      explode(tokens(col("text"))).as("t"))
    val train = toks.filter(col("h") < 80)
    // token-conditional counts, pivoted to one row per token
    val model = train.groupBy("t").agg(
      sum(col("pass")).cast("long").as("n_pass"),
      sum(lit(1) - col("pass")).cast("long").as("n_fail"))
    // class token totals + vocabulary size: three scalars, one broadcast
    val totals = model.agg(
      sum(col("n_pass")).cast("long").as("tot_pass"),
      sum(col("n_fail")).cast("long").as("tot_fail"),
      count(lit(1)).as("v"))
    // document-count priors on the same train split. A SINGLE-CLASS
    // train split fails LOUDLY: Spark's log(0) silently yields NULL
    // priors (nulling every score) where the DuckDB oracle's ln(0)
    // raises — the assert_true makes both engines fail the same way on
    // a degenerate corpus (the same loud-failure discipline as
    // bpeChain's require on an exhausted pair budget)
    val priors = labeled.filter(col("h") < 80).agg(
      surprisal6(sum(col("pass")).cast("double") / count(lit(1)))
        .as("prior_pass"),
      surprisal6(sum(lit(1) - col("pass")).cast("double") / count(lit(1)))
        .as("prior_fail"))
      .filter(assert_true(
        col("prior_pass").isNotNull && col("prior_fail").isNotNull,
        lit("nbQuality: train split is single-class — both Gopher-gate " +
            "label classes must be present to train the classifier")).isNull)
    toks.filter(col("h") >= 80)
      .join(model, Seq("t"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("s_pass", surprisal6(
        (coalesce(col("n_pass"), lit(0L)) + lit(1L)).cast("double") /
        (col("tot_pass") + col("v")).cast("double")))
      .withColumn("s_fail", surprisal6(
        (coalesce(col("n_fail"), lit(0L)) + lit(1L)).cast("double") /
        (col("tot_fail") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s_pass")).as("ll_pass"), sum(col("s_fail")).as("ll_fail"))
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), col("n_tokens"),
        round(col("prior_pass").cast("double") + col("ll_pass").cast("double"), 6)
          .as("nll_pass"),
        round(col("prior_fail").cast("double") + col("ll_fail").cast("double"), 6)
          .as("nll_fail"))
      .withColumn("predicted_pass",
        (col("nll_pass") <= col("nll_fail")).cast("int"))
      .orderBy("doc_id")
  }

  /** IMPORTANCE RESAMPLING (DSIR, Xie et al. 2023): weight every document
    * by how much more likely its hashed n-gram features are under a
    * TARGET distribution (here: train-split documents passing the Gopher
    * gates — the in-domain/high-quality proxy) than under the RAW pool
    * (all train-split documents), then keep the top slice. Features are
    * unigrams and bigrams hashed into `buckets` buckets (the paper's
    * hashed n-gram parameterization — fixed-size model regardless of
    * vocabulary), each bucket distribution Laplace-smoothed; the weight
    * is `sum_f [ln p_target(b(f)) - ln p_raw(b(f))]`, a difference of
    * [[surprisal6]] decimals, so exact.
    *
    * Scale shape: both "models" are `buckets`-sized count tables —
    * broadcast-sized BY CONSTRUCTION (that is the point of feature
    * hashing), so scoring is an exploded-features broadcast join + one
    * per-document sum; no shuffle touches the wide corpus beyond the
    * per-document aggregation. The global weight rank is computed by
    * [[withGlobalRank]] — range-partitioned local ranks + counts-only
    * offsets, never a single-partition window — so the selection runs
    * fully parallel at any corpus size.
    */
  def dsirWeights(documents: DataFrame, buckets: Int = 1024,
                  keepTop: Int = 100): DataFrame = {
    val scored = dsirScores(documents, buckets)
    scored
      .transform(withGlobalRank("w_rank", col("log_ratio").desc, col("doc_id")))
      .withColumn("selected", (col("w_rank") <= keepTop).cast("int"))
      .orderBy("doc_id")
  }

  /** The DSIR scoring core behind [[dsirWeights]] and [[mixtureSample]]:
    * per-document hashed-feature count and the target/raw log-likelihood
    * ratio. See [[dsirWeights]] for the model + scale discussion.
    */
  def dsirScores(documents: DataFrame, buckets: Int = 1024,
                 gatePass: Option[DataFrame] = None): DataFrame = {
    // gatePass: a precomputed (doc_id, pass) frame — Pipeline.pretrain
    // already runs the Gopher gates for curation and passes them in, so
    // the corpus pays ONE gate pass instead of two; None recomputes
    // (the standalone q_dsir_weights / q_mixture path)
    val feats = documents.repartition(col("doc_id"))
      .join(gatePass.getOrElse(
          gopherRulesUnordered(documents).select(col("doc_id"), col("pass"))),
        Seq("doc_id"))
      .withColumn("h",
        pmod(NearDup.md5Hash60(col("doc_id").cast("string")), lit(100)))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("h"), col("pass"),
        explode(concat(col("toks"), shingles(col("toks"), 2))).as("f"))
      .withColumn("b", pmod(NearDup.md5Hash60(col("f")), lit(buckets)))
    val raw = feats.filter(col("h") < 80)
    val rawCounts = raw.groupBy("b").agg(count(lit(1)).as("n_raw"))
    val tgtCounts = raw.filter(col("pass") === 1)
      .groupBy("b").agg(count(lit(1)).as("n_tgt"))
    val totals = raw.agg(
      count(lit(1)).as("tot_raw"),
      sum(col("pass")).cast("long").as("tot_tgt"))
    feats
      .join(broadcast(rawCounts), Seq("b"), "left")
      .join(broadcast(tgtCounts), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("s_raw", surprisal6(
        (coalesce(col("n_raw"), lit(0L)) + lit(1L)).cast("double") /
        (col("tot_raw") + lit(buckets.toLong)).cast("double")))
      .withColumn("s_tgt", surprisal6(
        (coalesce(col("n_tgt"), lit(0L)) + lit(1L)).cast("double") /
        (col("tot_tgt") + lit(buckets.toLong)).cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        (sum(col("s_raw")) - sum(col("s_tgt"))).cast("double").as("log_ratio"))
  }

  /** GLOBAL dense-row rank WITHOUT a single-partition exchange: range-
    * repartition on the sort key (unique by construction — callers pass a
    * tie-breaking id as the last key), rank locally per partition, then
    * shift each partition's ranks by the total row count of the
    * partitions before it. The only cross-partition state is the
    * per-partition COUNT frame — one row per shuffle partition, bounded
    * by cluster config, never by data (the same bounded-state argument as
    * the k-means codebook). Produces exactly
    * `row_number() OVER (ORDER BY keys)`:
    * range partitions are totally ordered on the keys, so local rank +
    * preceding-partition offset is the global rank.
    */
  private[operators] def withGlobalRank(out: String, keys: Column*)
      (df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist the INPUT: repartitionByRange runs a boundary-sampling pass
    // over its child before the real exchange, so an unpersisted upstream
    // (here the whole DSIR scoring pipeline) would execute twice
    val in = df
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val local = in.repartitionByRange(keys: _*)
      .withColumn("_pid", spark_partition_id())
      // ranked locally per range partition; persisted because the offset
      // census and the final join both consume it
      .withColumn("_lrk",
        row_number().over(Window.partitionBy("_pid").orderBy(keys: _*)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // preceding-partition totals via a partitions×partitions broadcast
    // theta-join (rows = shuffle-partition count, bounded by cluster
    // config) — keeps even this step free of unpartitioned windows
    val cnts = local.groupBy("_pid").agg(count(lit(1)).as("_cnt"))
    val offsets = cnts.select(col("_pid"))
      .join(broadcast(cnts.select(col("_pid").as("_p2"), col("_cnt"))),
        col("_p2") < col("_pid"), "left")
      .groupBy("_pid").agg(coalesce(sum(col("_cnt")), lit(0L)).as("_off"))
    local.join(broadcast(offsets), "_pid")
      .withColumn(out, (col("_lrk") + col("_off")).cast("long"))
      .drop("_pid", "_lrk", "_off")
  }

  /** GROUPED scale-safe rank + EXCLUSIVE running sum — [[withGlobalRank]]
    * generalized to per-group order statistics, the device that replaces
    * `Window.partitionBy(domain).orderBy(...)` when the domain is
    * low-cardinality (sources in a mixture recipe, languages in a packing
    * run): a plain grouped window funnels every row of a domain —
    * potentially most of the corpus — through ONE task, while here a
    * domain's rows spread over range partitions and only per-(group,
    * partition) COUNT/SUM rows are globally combined.
    *
    * Emits `rankOut` = `row_number() OVER (PARTITION BY group ORDER BY
    * keys)` and `cumOut` = `sum(value) OVER (same spec ROWS UNBOUNDED
    * PRECEDING TO -1)`, exactly (callers pass a tie-breaking unique key
    * last): range partitions are totally ordered on (group ++ keys), so
    * a group's rows in partition p all precede its rows in p' > p, and
    * local stat + preceding-same-group-partition offset is the group
    * stat.
    *
    * Scale shape: one range exchange + one (_pid, group)-keyed window —
    * every window partition is bounded by a single range partition's
    * slice, never by a domain's share of the corpus. The offset census
    * has one row per (group, partition); range partitioning keeps groups
    * contiguous, so census size ≤ #groups + #partitions — broadcast-sized
    * for the low-cardinality domains this device exists for (a
    * high-cardinality group key needs no device: the plain grouped
    * window is already parallel). Offsets come from a census self-join
    * (same group, smaller pid), not a window, so the plan stays free of
    * domain-only window specs — which is what PlanSpec locks.
    */
  private[graft] def withGroupedPrefix(groupCols: Seq[String],
      rankOut: String, cumOut: String, valueCol: Column, keys: Column*)
      (df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gCols = groupCols.map(col)
    // persist the INPUT: repartitionByRange samples boundaries first (see
    // withGlobalRank)
    val in = df
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val wLoc = Window.partitionBy((col("_pid") +: gCols): _*).orderBy(keys: _*)
    val local = in.repartitionByRange((gCols ++ keys): _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_val", valueCol.cast("long"))
      .withColumn("_lrk", row_number().over(wLoc))
      .withColumn("_lcum", coalesce(sum(col("_val"))
        .over(wLoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // per-(group, partition) totals; offsets = same-group smaller-pid
    // sums via a census self-join (census-sized, not corpus-sized) with
    // the prior side renamed — the same _p2 device as withGlobalRank
    val census = local.groupBy((col("_pid") +: gCols): _*)
      .agg(count(lit(1)).as("_cnt"), sum(col("_val")).as("_sum"))
    val prior = census.select(
      (groupCols.map(g => col(g).as(s"_g_$g")) :+ col("_pid").as("_p2")
        :+ col("_cnt") :+ col("_sum")): _*)
    val offsets = census.select((col("_pid") +: gCols): _*)
      .join(prior,
        groupCols.map(g => col(g) === col(s"_g_$g")).reduce(_ && _) &&
          col("_p2") < col("_pid"),
        "left")
      .groupBy((col("_pid") +: gCols): _*)
      .agg(coalesce(sum(col("_cnt")), lit(0L)).as("_rkoff"),
           coalesce(sum(col("_sum")), lit(0L)).as("_cumoff"))
    local.join(broadcast(offsets), "_pid" +: groupCols)
      .withColumn(rankOut, (col("_lrk") + col("_rkoff")).cast("long"))
      .withColumn(cumOut, (col("_lcum") + col("_cumoff")).cast("long"))
      .drop("_pid", "_val", "_lrk", "_lcum", "_rkoff", "_cumoff")
  }

  /** Per-source sampling rates (per-mille of the source's TOKEN mass) for
    * [[mixtureSample]]: the data-mixture recipe ("half of src0's tokens,
    * a fifth of src1's, 30% of the rest") a pretraining corpus build
    * executes after curation.
    */
  val mixtureRatesPerMille: Map[String, Int] = Map("src0" -> 500, "src1" -> 200)
  val defaultMixtureRatePerMille: Int = 300

  /** DATA-MIXTURE sampling: fill each source domain's token budget with
    * its highest-DSIR-weight documents — the composition step between
    * curation ([[dsirScores]] supplies quality order) and packing
    * ([[sequencePacking]] consumes the selection). Budget = the domain's
    * token mass × its per-mille mixture rate; selection is offset-based
    * first-fit in (weight desc, doc_id) order — a doc is taken while the
    * tokens selected before it are under budget, so each budget overflows
    * by at most one document (the same distributable greedy as
    * sequencePacking) and no document is ever taken twice (one row per
    * doc by construction).
    *
    * Scale shape: rank + running tokens come from ONE
    * [[withGroupedPrefix]] pass (range partitions + census offsets) —
    * NOT source-keyed windows: a mixture recipe names a handful of
    * sources, so a plain grouped window would funnel each domain
    * (potentially most of the corpus) through a single task. The
    * per-source token totals that set the budgets are a hash aggregation
    * over the prefix output (map-side partial, three rows out) broadcast
    * back; no driver state at all.
    */
  def mixtureSample(documents: DataFrame, buckets: Int = 1024,
                    ratesPerMille: Map[String, Int] = mixtureRatesPerMille,
                    defaultRatePerMille: Int = defaultMixtureRatePerMille)
      : DataFrame = {
    val perDoc = documents.repartition(col("doc_id"))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .join(dsirScores(documents, buckets).select("doc_id", "log_ratio"),
        Seq("doc_id"))
    mixtureSelect(perDoc, ratesPerMille, defaultRatePerMille)
      .select(col("doc_id"), col("source"), col("n_tok"), col("log_ratio"),
        col("dom_rank"), col("budget"), col("selected"))
      .orderBy("doc_id")
  }

  /** Held-out evaluation of the NB quality classifier (q_nb_eval): the
    * validation a model-based curation pipeline runs before trusting the
    * cheap classifier as a stand-in for the expensive rule — the
    * confusion census of predictions vs Gopher-rule labels on the
    * h ≥ 80 slice the model never trained on. Composes [[nbQuality]]'s
    * per-doc scores with the rule labels; output is a ≤4-row census, so
    * the eval costs one small join over work the scorer already does.
    */
  def nbQualityEval(documents: DataFrame): DataFrame =
    nbQuality(documents)
      .select(col("doc_id"), col("predicted_pass"))
      .join(gopherRulesUnordered(documents)
        .select(col("doc_id"), col("pass").as("rule_pass")), Seq("doc_id"))
      .groupBy("rule_pass", "predicted_pass")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("rule_pass", "predicted_pass")

  /** PMI CO-OCCURRENCE pairs (q_pmi_pairs) — pointwise mutual
    * information over within-window token pairs, the corpus statistic
    * word-embedding training pipelines factorize (word2vec's SGNS is
    * implicit PMI-matrix factorization, Levy & Goldberg 2014) and
    * collocation extraction ranks by: pmi(a,b) = ln[ p(a,b) /
    * (p(a)·p(b)) ] with pair probability from the window-`window`
    * co-occurrence table and unigram probabilities from token
    * frequency. Pairs are unordered (least/greatest normalization);
    * a `minCount` cutoff drops the unstable low-count tail (classic
    * PMI noise control); output is the global top-`topK` by
    * (pmi DESC, t1, t2).
    *
    * Scale shape: the pair space is POSITIONAL, not vocabulary² — the
    * per-doc self-join on position distance ≤ window emits ≤ window·n
    * rows per doc (shuffle key doc_id, bounded per-doc work), then
    * one hash agg on the pair key; unigram/pair totals are 1-row
    * broadcasts; the cutoff-survivor rank rides [[withGlobalRank]].
    * Determinism: every probability is a ratio of integer counts
    * (IEEE-exact divisions in fixed order), the one ln is quantized.
    */
  def pmiPairs(documents: DataFrame, window: Int = 4, minCount: Long = 5,
               topK: Int = 50): DataFrame = {
    import Similarity.quant6
    val tp = documents.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val uni = tp.groupBy("t").agg(count(lit(1)).as("n"))
    val nuni = tp.agg(count(lit(1)).cast("double").as("nu"))
    val pairs = tp.as("a").join(tp.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") > col("a.pos") &&
        col("b.pos") <= col("a.pos") + window)
      .select(least(col("a.t"), col("b.t")).as("t1"),
              greatest(col("a.t"), col("b.t")).as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val npairs = pairs.agg(sum("n_ab").cast("double").as("np"))
    pairs.filter(col("n_ab") >= minCount)
      .join(uni.select(col("t").as("t1"), col("n").as("n_a")), "t1")
      .join(uni.select(col("t").as("t2"), col("n").as("n_b")), "t2")
      .crossJoin(broadcast(nuni))
      .crossJoin(broadcast(npairs))
      .withColumn("pmi", quant6(log(
        (col("n_ab").cast("double") / col("np")) /
        ((col("n_a").cast("double") / col("nu")) *
         (col("n_b").cast("double") / col("nu"))))))
      .select(col("t1"), col("t2"), col("n_ab"), col("pmi"))
      .transform(withGlobalRank("pair_rank",
        col("pmi").desc, col("t1"), col("t2")))
      .filter(col("pair_rank") <= topK)
      .select(col("pair_rank"), col("t1"), col("t2"), col("n_ab"),
        round(col("pmi"), 6).as("pmi"))
      .orderBy("pair_rank")
  }

  /** PAGERANK centrality over the term CO-OCCURRENCE graph
    * (q_pagerank_terms; Page et al. 1999, power iteration) — the graph
    * view of the corpus [[pmiPairs]] measures pairwise: terms are
    * nodes, windowed co-occurrences (≥ `minCount`, symmetric) are
    * edges, and `iters` unrolled power-iteration steps rank the terms
    * a keyword census weighted by raw frequency over-counts (PageRank
    * rewards terms central to the co-occurrence structure, not merely
    * frequent). The same iterate-over-edges shape ranks entities,
    * hosts, or citation graphs in a curation pipeline (e.g. host-level
    * quality propagation over a link graph).
    *
    * Spark-first iteration: NO GraphX, no driver loop over vertices —
    * each step is one edge-join + hash-agg (contributions shuffle on
    * dst, rank state is node-sized), with `localCheckpoint` truncating
    * the lineage so the k-step plan stays k-sized (the [[Similarity
    * .mmrTopK]] device). At 100 TB the edge list partitions on src and
    * every step is embarrassingly parallel; iterations are a fixed
    * small constant, exactly as production PageRank runs.
    *
    * Determinism: the graph is integer counts; each contribution
    * r/deg passes the quant6 law, the per-node sum accumulates
    * DECIMAL(18,6), and the damped update 0.15/N + 0.85·Σ re-quantizes
    * — bit-identical in the unrolled-CTE oracle. The final global
    * top-`topK` rides [[withGlobalRank]], never a one-partition window.
    * Dangling nodes cannot exist (edges are symmetric, so every node
    * has out-degree ≥ 1) — the teleport term needs no dangling mass.
    */
  def pagerankTerms(documents: DataFrame, window: Int = 4,
                    minCount: Long = 5, iters: Int = 3,
                    topK: Int = 20): DataFrame = {
    import Similarity.quant6
    val tp = documents.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
    val und = tp.as("a").join(tp.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") > col("a.pos") &&
        col("b.pos") <= col("a.pos") + window &&
        col("a.t") =!= col("b.t"))
      .select(least(col("a.t"), col("b.t")).as("t1"),
              greatest(col("a.t"), col("b.t")).as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val edges = und.select(col("t1").as("src"), col("t2").as("dst"))
      .unionByName(und.select(col("t2").as("src"), col("t1").as("dst")))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // node count: scalar state, the codebook-collect class
    val n = deg.count().toDouble
    var r = deg.select(col("src").as("t"),
      quant6(lit(1.0) / lit(n)).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(r.withColumnRenamed("t", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("t"),
          quant6(col("r") / col("deg").cast("double")).as("c"))
        .groupBy("t")
        .agg(sum(col("c").cast("decimal(18,6)")).cast("double").as("cs"))
      val prevR = r
      r = deg.select(col("src").as("t")).join(contrib, Seq("t"), "left")
        .select(col("t"), quant6(lit(0.15) / lit(n) +
          lit(0.85) * coalesce(col("cs"), lit(0.0))).as("r"))
        .localCheckpoint()
      // superseded rank generation released immediately; round 1's frame
      // is not checkpoint-backed and no-ops through (r18)
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(prevR)
    }
    graft.CacheRegistry.trackCheckpoint(r)
      .transform(withGlobalRank("rank", col("r").desc, col("t")))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("t").as("term"),
        round(col("r"), 6).as("pagerank"))
      .orderBy("rank")
  }

  /** BFS HOP DISTANCE (q_bfs_hops) — the fourth graph read next to
    * PageRank's centrality, the triangles' cohesion, and LPA's
    * clusters: breadth-first shortest-hop distance from the corpus's
    * most frequent term (deterministic seed: max global count, term-asc
    * tie-break) over the window-`window` co-occurrence graph — the
    * neighborhood-expansion query a term-graph explorer ("what is
    * within k hops of X?") runs, and the building block of
    * graph-distance features. Frontier rounds iterate UNTIL THE
    * FRONTIER EMPTIES (true convergence — a deeper graph can never
    * silently truncate distances) under a `hopBudget` runaway guard;
    * each round is one edge join + distinct + anti-join against the
    * visited set, localCheckpoint-truncated (the pagerankTerms device)
    * — no GraphX, no driver loop over vertices. Graph nodes the budget
    * or a disconnected component leaves unreached are emitted
    * EXPLICITLY with hop = -1, so the result always covers the whole
    * node set and "missing" is a value, not an absence.
    *
    * Scale shape: the pair space is positional (≤ window·n rows per
    * doc); each round's frontier join is edge-bounded and the visited
    * anti-join is node-bounded; state between rounds is the (term, hop)
    * frontier — vocabulary-sized, never corpus-sized; the per-round
    * emptiness probe is an isEmpty on the already-materialized
    * checkpoint (take(1), not a count). Determinism: pure set algebra
    * on exact counts; BFS min-hop is join-order-independent by
    * construction. On the driver's 31-term uniform-vocabulary corpus
    * one dense component is the CORRECT answer (everything lands at hop
    * 1, converging in 2 rounds) — multi-hop separation, convergence
    * past round 3, and the unreached emission are proven on
    * constructed chain/two-component corpora in TextAnalysisSpec.
    */
  def bfsHops(documents: DataFrame, window: Int = 4, minCount: Long = 5,
              hopBudget: Int = 20): DataFrame = {
    val tp = documents.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
    val und = tp.as("a").join(tp.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") > col("a.pos") &&
        col("b.pos") <= col("a.pos") + window &&
        col("a.t") =!= col("b.t"))
      .select(least(col("a.t"), col("b.t")).as("t1"),
              greatest(col("a.t"), col("b.t")).as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val edges = und.select(col("t1").as("src"), col("t2").as("dst"))
      .unionByName(und.select(col("t2").as("src"), col("t1").as("dst")))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // seed: bounded TakeOrdered (count desc, term asc), stays a 1-row frame
    val seed = tp.groupBy("t").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(1)
      .select(col("t").as("term"))
    var visited = seed.withColumn("hop", lit(0)).localCheckpoint()
    var frontier = visited.select("term")
    var h = 1
    var drained = frontier.isEmpty
    while (!drained && h <= hopBudget) {
      val nxt = graft.CacheRegistry.trackCheckpoint(
        frontier.withColumnRenamed("term", "src")
          .join(edges, "src")
          .select(col("dst").as("term")).distinct()
          .join(visited.select("term"), Seq("term"), "left_anti")
          .withColumn("hop", lit(h))
          .localCheckpoint())
      drained = nxt.isEmpty
      if (!drained) {
        val prevV = visited
        visited = visited.unionByName(nxt).localCheckpoint()
        // superseded visited generation released immediately (r18); nxt
        // stays live as next round's frontier and is registry-released
        // when the query completes
        org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(prevV)
        frontier = nxt.select("term")
      }
      h += 1
    }
    visited = graft.CacheRegistry.trackCheckpoint(visited)
    // every graph node the walk never reached (other components, or past
    // the budget) is emitted with the explicit sentinel hop = -1
    val unreached = edges.select(col("src").as("term")).distinct()
      .join(visited.select("term"), Seq("term"), "left_anti")
      .withColumn("hop", lit(-1))
    visited.unionByName(unreached)
      .select(col("hop").cast("int").as("hop"), col("term"))
      .orderBy("hop", "term")
  }

  /** CALIBRATION / discrimination curve for the NB quality classifier
    * (q_nb_calibration) — the reliability-by-decile table an ML-ops
    * review reads before trusting a filter in production: held-out
    * documents ranked by classifier margin (nll_fail − nll_pass,
    * higher = more pass-confident), cut into `bins` equal rank bins,
    * each bin reporting its empirical Gopher-rule pass rate. A
    * well-discriminating classifier shows the rate falling
    * monotonically from bin 1 to bin `bins`; a flat curve means the
    * margin carries no signal. The same grading pattern as
    * [[nbQualityEval]]'s confusion census, resolved by confidence
    * instead of collapsed over it.
    *
    * Scale shape: per-doc scores are [[nbQuality]]'s bounded plan; the
    * global margin rank rides [[withGlobalRank]] (range-partitioned
    * local ranks + count offsets — never a single-partition window);
    * binning is integer arithmetic on (rank, n); the census is
    * `bins` rows. Determinism: the margin is a difference of two
    * round-6 doubles (exact IEEE), ties rank by doc_id, bin = integer
    * DIV — no float crosses an engine boundary unquantized.
    */
  def nbCalibration(documents: DataFrame, bins: Int = 10): DataFrame = {
    val scored = nbQuality(documents)
      .select(col("doc_id"),
        (col("nll_fail") - col("nll_pass")).as("margin"),
        col("predicted_pass"))
      .join(gopherRulesUnordered(documents)
        .select(col("doc_id"), col("pass").as("rule_pass")), Seq("doc_id"))
    val ranked = scored
      .transform(withGlobalRank("mrk", col("margin").desc, col("doc_id")))
    val n = ranked.agg(count(lit(1)).as("_n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bin",
        (expr(s"($bins * (mrk - 1)) DIV _n") + lit(1L)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("rule_pass")).cast("long").as("n_rule_pass"),
        sum(col("predicted_pass")).cast("long").as("n_pred_pass"),
        round(min(col("margin")), 6).as("min_margin"))
      .withColumn("rule_pass_rate",
        round(col("n_rule_pass").cast("double") / col("n_docs"), 6))
      .orderBy("bin")
  }

  /** TEMPERATURE-scaled mixture (q_mixture_temp): instead of hand-set
    * per-mille rates, each source's token budget is its share of a
    * global budget under α = 0.5 resampling — budget_d ∝ √n_d, the
    * standard temperature knob that upsamples low-resource domains
    * relative to proportional sampling (α = 1 reproduces the corpus,
    * α = 0 gives uniform-per-domain). Budgets are INTEGER-EXACT:
    * w_d = ⌊√n_d⌋ (IEEE sqrt is correctly rounded, so the long cast
    * agrees across engines), global budget T = total DIV 2, budget_d =
    * (T · w_d) DIV Σw — no cross-engine float summation anywhere.
    * Selection is the same grouped-prefix first-fit as [[mixtureSample]];
    * the per-source weights are a |sources|-row broadcast.
    */
  def mixtureTemperature(documents: DataFrame, buckets: Int = 1024): DataFrame = {
    val perDoc = documents.repartition(col("doc_id"))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .join(dsirScores(documents, buckets).select("doc_id", "log_ratio"),
        Seq("doc_id"))
    val prefixed = perDoc
      .transform(withGroupedPrefix(Seq("source"), "dom_rank", "_cum_before",
        col("n_tok"), col("log_ratio").desc, col("doc_id")))
    val srcw = prefixed.groupBy("source")
      .agg(sum(col("n_tok")).as("_src_tok"))
      .withColumn("_w", sqrt(col("_src_tok").cast("double")).cast("long"))
    val grand = srcw.agg(sum(col("_src_tok")).as("_tot"),
      sum(col("_w")).as("_wsum"))
    prefixed.join(broadcast(srcw.select("source", "_w")), Seq("source"))
      .crossJoin(broadcast(grand))
      .withColumn("budget", expr("((_tot DIV 2) * _w) DIV _wsum").cast("long"))
      .withColumn("selected", (col("_cum_before") < col("budget")).cast("int"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("log_ratio"),
        col("dom_rank"), col("budget"), col("selected"))
      .orderBy("doc_id")
  }

  /** The SELECTION core behind [[mixtureSample]], reusable over any
    * scored membership (Pipeline.pretrain selects within the CURATED
    * corpus using scores from the raw corpus): input rows carry
    * (doc_id, source, n_tok, log_ratio) plus any passthrough columns;
    * output adds dom_rank, budget, selected. Unordered, composition-
    * ready; the scale shape is [[withGroupedPrefix]] plus a |sources|-row
    * aggregate broadcast back.
    */
  private[operators] def mixtureSelect(perDoc: DataFrame,
      ratesPerMille: Map[String, Int],
      defaultRatePerMille: Int): DataFrame = {
    val rate = ratesPerMille.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultRatePerMille)) {
        case (acc, (src, r)) => when(col("source") === src, lit(r)).otherwise(acc)
      }
    val prefixed = perDoc
      .transform(withGroupedPrefix(Seq("source"), "dom_rank", "_cum_before",
        col("n_tok"), col("log_ratio").desc, col("doc_id")))
    // per-source totals from the (persisted) prefix output: a partial-agg
    // groupBy emitting |sources| rows, broadcast back onto the corpus
    val totals = prefixed.groupBy("source")
      .agg(sum(col("n_tok")).as("_src_tokens"))
    prefixed.join(broadcast(totals), Seq("source"))
      .withColumn("_rate_pm", rate)
      .withColumn("budget", expr("(_src_tokens * _rate_pm) DIV 1000").cast("long"))
      .withColumn("selected", (col("_cum_before") < col("budget")).cast("int"))
      .drop("_cum_before", "_src_tokens", "_rate_pm")
  }

  /** BOTTOM-K coordinated sample (q_bottomk_sample) — exactly k
    * documents per language, selected as the k smallest content hashes
    * (the bottom-k sketch, Cohen & Kaplan 2007): a uniform
    * without-replacement sample that is reproducible across engines,
    * runs, and partitionings (no rand()), and COORDINATED — two corpora
    * sampled this way agree on their shared content, so sample-level
    * comparisons estimate corpus-level ones (the property that makes
    * bottom-k sketches composable for diff/Jaccard estimation, and the
    * exact-k complement to [[stratifiedSample]]'s fraction routing).
    *
    * Scale shape: one pruned (doc_id, lang, text) scan; the per-stratum
    * rank rides [[withGroupedPrefix]] — never a window partitioned by
    * the handful-of-values lang key. Ties (duplicate content) break on
    * doc_id, so the sample is total-ordered and stable.
    */
  def bottomKSample(documents: DataFrame, k: Int = 50): DataFrame =
    bottomKFrom(documents.repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h")), k)

  /** The rank-and-cut stage over already-hashed (doc_id, lang, h) rows —
    * shared by [[bottomKSample]] and the streaming sketch merge
    * (bottom-k is MERGEABLE: the bottom-k of a union is the bottom-k of
    * the per-part bottom-k's, so the drained per-batch sketches re-rank
    * through exactly this code and can never drift from the batch path).
    */
  private[graft] def bottomKFrom(hashed: DataFrame, k: Int): DataFrame =
    hashed
      .transform(withGroupedPrefix(Seq("lang"), "rk", "_cum", lit(1L),
        col("h"), col("doc_id")))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"), col("h"))
      .orderBy("lang", "rk")

  /** Content-keyed K-FOLD assignment census (q_kfold) — fold =
    * md5₆₀(text) mod k, so exact-duplicate content ALWAYS lands in the
    * same fold and cross-validation never scores a verbatim copy of a
    * training document (the leakage the decontamination pass hunts,
    * prevented structurally at split time; doc_id-keyed folds would
    * scatter duplicates). Census per (fold, lang): docs, distinct
    * contents, char mass — the balance check before trusting the folds.
    *
    * Scale shape: assignment is stateless arithmetic on the content
    * hash (the [[hashSplit]] routing law, keyed on text instead of id);
    * one pruned scan into one hash agg.
    */
  def kfoldAssign(documents: DataFrame, k: Int = 5): DataFrame =
    documents.repartition(col("doc_id"))
      .withColumn("fold", pmod(NearDup.md5Hash60(col("text")), lit(k)))
      .groupBy("fold", "lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_contents"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy("fold", "lang")

  /** EPOCH-SHUFFLE training order (q_epoch_shuffle) — the deterministic
    * per-epoch permutation a data loader consumes: every document gets,
    * for each training epoch, a shard assignment and a position within
    * the shard, derived from the content-stable md5-keyed ordering
    * (seed = doc_id:epoch, so each epoch is an INDEPENDENT permutation
    * but every rerun of the job emits the identical order — the
    * reproducibility property distributed training needs for exact
    * resume and for attributing a loss spike to the batch that caused
    * it). Shard count maps to loader workers; position is the read
    * order within the worker.
    *
    * Scale shape: one pruned (doc_id-only) scan fanned out ×epochs, one
    * hash per row, shard by pmod — then positions come from the
    * grouped-prefix device ([[withGroupedPrefix]]: per-partition local
    * ranks + a census-sized offset join), NEVER a per-(epoch, shard)
    * global window. The output is loader-manifest-sized (epochs ×
    * corpus) and partitions on (epoch, shard) for per-worker reads.
    */
  def epochShuffle(documents: DataFrame, epochs: Int = 3,
                   shards: Int = 8): DataFrame =
    // no repartition spread: the row work is one short-string hash, and
    // withGroupedPrefix range-repartitions on its own keys anyway
    documents
      .select(col("doc_id"))
      .withColumn("epoch", explode(array((0 until epochs).map(lit): _*)))
      .withColumn("shuffle_key",
        NearDup.md5Hash60(concat_ws(":", col("doc_id"), col("epoch"))))
      .withColumn("shard", pmod(col("shuffle_key"), lit(shards.toLong)))
      .transform(withGroupedPrefix(Seq("epoch", "shard"), "pos", "_cum",
        lit(1L), col("shuffle_key"), col("doc_id")))
      .select(col("epoch").cast("int").as("epoch"), col("shard"),
        col("pos"), col("doc_id"), col("shuffle_key"))
      .orderBy("epoch", "shard", "pos")

  /** TOKEN-ENTROPY quality census (q_token_entropy) — per-document
    * unigram Shannon entropy (nats) of the token distribution, rolled
    * up per language: the information-density signal quality filters
    * use to catch REPETITIVE text ([[repetitionSignals]] counts literal
    * n-gram repeats; entropy catches the statistical version — boiler-
    * plate, keyword stuffing, template spam — that repeats distribution
    * shape without repeating strings; CCNet and Gopher both gate on
    * exactly this family). Census per lang: docs, mean/max entropy, and
    * how many docs fall under the low-entropy cut.
    *
    * Scale shape: one tokenize scan → (doc, term) hash agg → one
    * doc_id-led window for the per-doc token total (corpus-cardinality
    * key — parallel) → per-doc hash agg → |langs|-row census. No join.
    * Determinism: each per-term surprisal contribution passes ln()
    * through the quant6 law and accumulates DECIMAL(18,6) per doc (the
    * [[pmiPairs]] discipline); the low cut compares the exact DECIMAL
    * sum; the census mean divides an exact DECIMAL sum once, display-
    * rounded.
    */
  def tokenEntropy(documents: DataFrame, lowCut: Double = 3.0): DataFrame = {
    import Similarity.quant6
    import org.apache.spark.sql.expressions.Window
    val tf = documents.repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "lang", "t").agg(count(lit(1)).as("tf"))
    val perDoc = tf
      .withColumn("n", sum(col("tf")).over(Window.partitionBy("doc_id")))
      .withColumn("c", quant6(col("tf").cast("double") / col("n") *
        log(col("n").cast("double") / col("tf"))))
      .groupBy("doc_id", "lang")
      .agg(sum(col("c").cast("decimal(18,6)")).as("entropy"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("entropy")).cast("double") / count(lit(1)), 6)
          .as("avg_entropy"),
        sum((col("entropy") < lowCut).cast("long")).as("n_low"),
        round(max(col("entropy")).cast("double"), 6).as("max_entropy"))
      .orderBy("lang")
  }

  /** WEIGHTED coordinated sample (q_weighted_sample) — exactly k
    * documents per language sampled with probability proportional to
    * SIZE (char mass), without replacement, via the exponential race
    * (Efraimidis & Spirakis 2006): each document draws a hash-uniform
    * u ∈ (0,1] from its content and races with key −ln(u)/w; the k
    * smallest keys per stratum are the sample. This is the
    * token-budget-aware complement to [[bottomKSample]]'s uniform
    * sketch — when the downstream consumer meters tokens, sampling
    * docs uniformly under-represents long documents' mass. rand()-free
    * and content-keyed, so the sample is reproducible across engines,
    * runs, and partitionings, and coordinated across corpora sharing
    * content.
    *
    * Scale shape: one pruned scan computes the key statelessly per
    * row; the per-stratum rank rides [[withGroupedPrefix]] — never a
    * window partitioned by the handful-of-values lang key.
    * Determinism: u = (md5₆₀+1)/2⁶⁰ (the long add happens BEFORE the
    * double cast on both engines — near 2⁶⁰ doubles are 128 apart, so
    * add-then-cast and cast-then-add can differ); −ln(u) passes the
    * quant6 law; the division by w is then one IEEE op on
    * bit-identical operands; ties break on doc_id.
    */
  def weightedSample(documents: DataFrame, k: Int = 50): DataFrame = {
    import Similarity.quant6
    val scored = documents.repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"),
        greatest(col("n_chars"), lit(1L)).as("w"),
        NearDup.md5Hash60(col("text")).as("h"))
      .withColumn("neg_log_u", quant6(-log(
        (col("h") + lit(1L)).cast("double") / lit(1.152921504606846976e18))))
      .withColumn("score", col("neg_log_u") / col("w").cast("double"))
    scored
      .transform(withGroupedPrefix(Seq("lang"), "rk", "_cum", lit(1L),
        col("score"), col("doc_id")))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"),
        col("w").as("n_chars"), round(col("neg_log_u"), 6).as("neg_log_u"))
      .orderBy("lang", "rk")
  }

  /** LABEL-PROPAGATION communities (q_label_prop; Raghavan et al. 2007)
    * over the term co-occurrence graph — the third graph read next to
    * [[pagerankTerms]] (centrality) and [[triangleCensus]] (cohesion):
    * which terms CLUSTER. Each node starts labeled with itself; each
    * synchronous iteration relabels every node with the most frequent
    * label among its neighbors (ties → lexicographically smallest
    * label, making the usually-randomized algorithm fully
    * deterministic); after `iters` rounds the label census reads out
    * the emerging topical communities. The same iterate-over-edges
    * shape clusters hosts, authors, or near-dup doc graphs in a
    * curation pipeline.
    *
    * Spark-first iteration (the [[pagerankTerms]] device): NO GraphX,
    * no driver loop over vertices — each step is one edge join + one
    * (node, label) hash agg + one node-keyed window (term-cardinality,
    * parallel), with localCheckpoint truncating the lineage so the
    * k-step plan stays k-sized. At 100 TB the edge list partitions on
    * the neighbor key and every step is embarrassingly parallel.
    * Determinism: votes are exact integer counts with a total
    * tie-break; the final community census ranks via
    * [[withGlobalRank]], never a one-partition window.
    */
  def labelPropagation(documents: DataFrame, window: Int = 4,
                       minCount: Long = 5, iters: Int = 2,
                       topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tp = documents.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
    val und = tp.as("a").join(tp.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") > col("a.pos") &&
        col("b.pos") <= col("a.pos") + window &&
        col("a.t") =!= col("b.t"))
      .select(least(col("a.t"), col("b.t")).as("t1"),
              greatest(col("a.t"), col("b.t")).as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .select("t1", "t2")
    val edges = und.select(col("t1").as("src"), col("t2").as("dst"))
      .unionByName(und.select(col("t2").as("src"), col("t1").as("dst")))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    var labels = edges.select(col("src").as("t")).distinct()
      .withColumn("lab", col("t"))
      .localCheckpoint()
    val wVote = Window.partitionBy("src").orderBy(col("c").desc, col("lab"))
    for (_ <- 1 to iters) {
      val prevL = labels
      labels = edges
        .join(labels.select(col("t").as("dst"), col("lab")), "dst")
        .groupBy("src", "lab").agg(count(lit(1)).as("c"))
        .withColumn("_vrk", row_number().over(wVote))
        .filter(col("_vrk") === 1)
        .select(col("src").as("t"), col("lab"))
        .localCheckpoint()
      // superseded vote generation released immediately (r18)
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(prevL)
    }
    graft.CacheRegistry.trackCheckpoint(labels)
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_terms"))
      .transform(withGlobalRank("rank", col("n_terms").desc, col("community")))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("community"), col("n_terms"))
      .orderBy("rank")
  }

  /** TRIANGLE census over the term co-occurrence graph (q_triangles) —
    * per-term triangle participation and local clustering coefficient
    * cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the graph statistic that
    * separates terms sitting inside tight topical cliques from terms
    * that are merely high-degree hubs ([[pagerankTerms]] ranks
    * centrality; this ranks cohesion — together they are the standard
    * first read of any co-occurrence, citation, or host-link graph a
    * curation pipeline builds). Nodes/edges are [[pmiPairs]]' windowed
    * co-occurrence graph at the same `minCount` cutoff.
    *
    * Scale shape: DEGREE-ORDERED ORIENTATION (Schank & Wagner 2005 /
    * Cohen's MapReduce formulation) — each undirected edge points from
    * its lower-(deg, name) endpoint to the higher, so every wedge is
    * generated at its lowest-degree vertex and each triangle is
    * counted exactly once, with per-node wedge fan-out bounded by
    * out-degree ≤ O(√|E|) instead of raw degree (the hub that breaks
    * naive wedge counting at scale). Three hash joins — wedge
    * generation shuffles on the wedge center, closure is an equi join
    * back to the edge list on the canonical (least, greatest) key —
    * and the final top-k rides [[withGlobalRank]], never a
    * one-partition window. Determinism: counts are exact integers;
    * the coefficient is one integer ratio, display-rounded.
    */
  def triangleCensus(documents: DataFrame, window: Int = 4,
                     minCount: Long = 5, topK: Int = 20): DataFrame = {
    val tp = documents.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
    val und = tp.as("a").join(tp.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
        col("b.pos") > col("a.pos") &&
        col("b.pos") <= col("a.pos") + window &&
        col("a.t") =!= col("b.t"))
      .select(least(col("a.t"), col("b.t")).as("t1"),
              greatest(col("a.t"), col("b.t")).as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .select("t1", "t2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val deg = und.select(col("t1").as("t"))
      .unionByName(und.select(col("t2").as("t")))
      .groupBy("t").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    // orient low-(deg, name) → high; t1 < t2 already, so deg ties keep t1
    val oriented = und
      .join(deg.select(col("t").as("t1"), col("deg").as("d1")), "t1")
      .join(deg.select(col("t").as("t2"), col("deg").as("d2")), "t2")
      .select(
        when(col("d1") <= col("d2"), col("t1")).otherwise(col("t2")).as("src"),
        when(col("d1") <= col("d2"), col("t2")).otherwise(col("t1")).as("dst"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("u"), col("x.dst").as("v"),
              col("y.dst").as("w"))
    // x.dst < y.dst ⇒ v < w, matching und's canonical t1 < t2 directly
    val tri = wedges.join(und,
        col("t1") === col("v") && col("t2") === col("w"))
      .select("u", "v", "w")
    val corners = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n_tri"))
    corners.join(deg, "t")
      .withColumn("local_cc", round(
        lit(2.0) * col("n_tri") /
          (col("deg") * (col("deg") - 1)).cast("double"), 6))
      .transform(withGlobalRank("rank", col("n_tri").desc, col("t")))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("t").as("term"), col("n_tri"),
        col("deg"), col("local_cc"))
      .orderBy("rank")
  }

  /** Shared PII pattern literals — one definition so the Spark plan and
    * the SQL twin can never drift. All three are in the common
    * java.util.regex ∩ RE2 dialect (character classes, bounded repeats,
    * `\b`), matched case-insensitively nowhere (corpus text is already
    * lowercase; plants are lowercase by construction). */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val Ipv4Re = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
  private[graft] val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** PII detection + redaction census (q_pii_redact) — the scrub pass
    * every released training corpus runs before anything else ships
    * (C4 and Dolma both regex-scrub emails/IPs/phones): per language,
    * how many documents carry each PII class, total entities found,
    * and the character mass the typed-placeholder rewrite
    * (`<EMAIL>`/`<IP>`/`<PHONE>`) removes. The corpus is derived — the
    * synthetic text carries no PII, so deterministic plants
    * (doc_id-keyed email/IPv4/phone suffixes) make every class and
    * the multi-class overlap appear, the [[Pipeline.snapshotDiff]]
    * device.
    *
    * Scale shape: ONE pruned (doc_id, lang, text) scan, all matching
    * and rewriting as codegen'd regexp expressions (no UDF), one hash
    * agg on lang — embarrassingly parallel, no second pass for the
    * redacted length (computed inline). Determinism: counts are
    * non-overlapping left-to-right match counts (java.util.regex and
    * RE2 agree on these class/bounded-repeat patterns), lengths are
    * exact integers.
    */
  def piiRedactCensus(documents: DataFrame): DataFrame = {
    val planted = documents.select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" host 10."), (col("doc_id") % 200).cast("string"),
            lit(".0.1"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" tel +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("ptext"))
    planted
      .withColumn("n_em", regexp_count(col("ptext"), lit(EmailRe)))
      .withColumn("n_ip", regexp_count(col("ptext"), lit(Ipv4Re)))
      .withColumn("n_ph", regexp_count(col("ptext"), lit(PhoneRe)))
      .withColumn("red", regexp_replace(regexp_replace(regexp_replace(
        col("ptext"), EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_em") > 0 || col("n_ip") > 0 || col("n_ph") > 0)
          .cast("long")).as("n_docs_pii"),
        sum(col("n_em").cast("long")).as("n_emails"),
        sum(col("n_ip").cast("long")).as("n_ips"),
        sum(col("n_ph").cast("long")).as("n_phones"),
        sum((length(col("ptext")) - length(col("red"))).cast("long"))
          .as("chars_redacted"))
      .orderBy("lang")
  }
}
