package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Similarity.quant6

/** Multi-attribute ENTITY RESOLUTION over the `part` catalog — the
  * record-linkage stage a training-data pipeline runs on its metadata
  * tables (product/author/source catalogs) before joining them to the
  * corpus, distinct from document near-dup: records match on a FUSED
  * score across several attributes, and each resolved entity elects a
  * canonical "golden record" (survivorship).
  *
  * Reference scope: rtacconi/kinesis-test processes one record stream
  * with no linkage stage (consumer.py:92-130 relays records verbatim);
  * this family is part of the mandated beyond-the-reference
  * LLM-pipeline surface (dedup at the ENTITY level rather than the
  * document level).
  *
  * The match score between two records is
  * `0.6·Jaccard(name tokens) + 0.2·[brand =] + 0.2·[type =]`,
  * quant6-floored before the threshold θ so both engines keep
  * identical edges. The pipeline resolves at the SIGNATURE level —
  * distinct `(token set, brand, type)` combinations — because the
  * score depends only on the signature: same-signature records always
  * score 1.0 and merge, so projecting to signatures first preserves
  * the entity partition EXACTLY while collapsing the pair space from
  * record-quadratic to signature-bounded (a catalog with hot attribute
  * combinations — millions of records over thousands of signatures —
  * costs signature-pairs, not record-pairs).
  *
  * Candidate generation is split by the score's structure, each branch
  * an EQUI-join (no all-pairs anywhere):
  *
  *  1. SAME token set (Jaccard = 1): an edge needs `0.2·(b+t) ≥ θ−0.6`,
  *     i.e. at least `sameBt` of the two attribute equalities — so
  *     candidates come from equi-joins on (toks, brand) / (toks, type)
  *     (or (toks) alone, or all three, per θ). These joins emit almost
  *     exclusively true edges: output-linear, zero quadratic blocks.
  *  2. CROSS token set (Jaccard < 1): an edge needs
  *     `0.2·(b+t) > θ−0.6` (strict, since J<1), i.e. ≥ `crossBt`
  *     attribute equalities, AND `J ≥ Jmin = (θ−0.4)/0.6`. Pairs at
  *     that Jaccard are found by PREFIX-PAIR blocking: order tokens by
  *     global rarity (document frequency over signatures, ties
  *     lexicographic); a signature with m tokens keys on every PAIR
  *     from its `r = min(m, ⌊m·(1−Jmin)⌋+2)` rarest tokens. Recall
  *     proof: J ≥ Jmin bounds each side's extra tokens at
  *     `a ≤ ⌊m(1−Jmin)⌋`, and the j-th rarest COMMON token is within
  *     the prefix whenever `j ≤ r−a` — so with r ≥ a+2 both prefixes
  *     contain the two rarest common tokens and the pair key
  *     collides. Signatures with `m ≤ ⌊1/Jmin⌋` (where a single-token
  *     overlap can already reach Jmin) additionally key on each prefix
  *     token alone. The brand/type requirement rides IN the join key,
  *     so blocks are (token-pair × attrs)-sized.
  *
  * Quantization note: quant6 rounds at 1e-6, while the Jaccard of
  * small token sets moves in steps ≥ 1/(3·|set|²) — far coarser — so
  * rounding can never admit a pair the candidate algebra excluded
  * (documented domain: token sets ≤ ~100 tokens, θ in (0.6, 1.0]).
  *
  * Edges at score ≥ θ feed [[NearDup.componentsFromEdges]] (the shared
  * min-label-propagation fixpoint, run at [[graft.Width]]'s
  * catalog-derived shuffle width); singleton signatures coalesce to
  * their own id after a left join — never pushed through the fixpoint.
  * Entity id = min record key of the component (signature ids are
  * min-member keys, so min over signature labels IS the min record
  * key). Survivorship ([[canonicalParts]]) elects the
  * highest-retailprice member (ties to the lowest key) via a
  * min-struct aggregation — one hash agg, no entity-keyed window.
  */
object EntityResolution {

  /** Distinct sorted lowercase alphanumeric tokens of a name — sorted so
    * the token set is a canonical grouping key; mirrors the oracle
    * twin's `list_sort(list_distinct(...))` character for character.
    */
  private def nameTokens(name: Column): Column =
    array_sort(array_distinct(filter(split(lower(name), "[^a-z0-9]+"),
      t => t =!= "")))

  /** The θ-derived blocking constants, computed ONCE here and shared by
    * the Spark chain and the generated oracle SQL so the two engines can
    * never disagree on a literal. `sameBt`/`crossBt` are the minimum
    * attribute-equality counts for a same-/cross-token-set edge (3 =
    * impossible); fp tolerance keeps 0.6+0.2·k comparisons exact-rational.
    */
  private[graft] final case class ErParams(threshold: Double) {
    val jmin: Double = math.min(1.0, math.max(1e-6, (threshold - 0.4) / 0.6))
    val oneMinusJmin: Double = 1.0 - jmin
    val unaryM: Int = math.floor(1.0 / jmin).toInt
    val sameBt: Int =
      (0 to 2).find(k => 0.6 + 0.2 * k >= threshold - 1e-9).getOrElse(3)
    val crossBt: Int =
      (0 to 2).find(k => 0.6 + 0.2 * k > threshold + 1e-9).getOrElse(3)
  }

  /** The record frame with its signature columns: tokens + the string
    * signature key (space-joined sorted tokens — injective because the
    * tokenizer strips whitespace). Shared by the batch chain and the
    * streaming ingest ([[graft.streaming.StreamOps]]), which must
    * tokenize identically for the drained store to share the oracle.
    */
  private[graft] def withSignature(part: DataFrame): DataFrame =
    part.withColumn("toks", nameTokens(col("p_name")))
      .withColumn("skey", array_join(col("toks"), " "))

  /** Distinct signatures of a keyed frame: (toks, brand, type) with
    * sig_id = min member key. Re-grouping a UNION of signature frames
    * (keyCol = "sig_id") through this same agg is the streaming store's
    * merge step — min is associative, so incremental merges converge to
    * the batch result.
    */
  private[graft] def sigsOf(recs: DataFrame,
                            keyCol: String = "p_partkey"): DataFrame =
    recs.groupBy(col("toks"), col("p_brand"), col("p_type"))
      .agg(min(col(keyCol)).as("sig_id"))
      .withColumn("skey", array_join(col("toks"), " "))
      .withColumn("m", size(col("toks")))

  /** Signature-level resolution: one row per distinct (toks, brand,
    * type) with its resolved `entity_id` and the 2-rarest-prefix
    * `block_key`, plus the record-level `base` frame to expand against.
    */
  private def resolvedParts(part: DataFrame, threshold: Double): DataFrame = {
    // the tokenized record frame feeds BOTH the signature derivation and
    // the final record-expansion join — persisted so the tokenize pass
    // runs once (the jaccardPairs cache contract; Bench's clearCache and
    // CacheRegistry.release reclaim it)
    val base = withSignature(part.select(col("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_retailprice")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val sig = sigsOf(base)
    val sres = resolveSigs(sig, threshold, part)
    base.join(sres, Seq("skey", "p_brand", "p_type"))
  }

  /** The signature-resolution core: candidates (structured equi-joins +
    * prefix-pair blocking), score, edges, min-label fixpoint, singleton
    * coalesce, block key — everything between a signature frame
    * (sig_id, toks, skey, m, p_brand, p_type) and its per-signature
    * (skey, p_brand, p_type, entity_id, block_key) map. `widthFrom`
    * supplies the fixpoint's input-stats shuffle width (the catalog for
    * the batch chain, the signature store for the streaming chain).
    */
  private[graft] def resolveSigs(sigIn: DataFrame, threshold: Double,
                                 widthFrom: DataFrame): DataFrame = {
    // RIGHT-SIZED signature-stage width (r18): every stage of the
    // resolution between the signature frame and the per-signature map
    // is SIGNATURE-BOUNDED (the table saturates by the attribute-
    // combination space at any corpus scale — EXPLAINS r17), so it runs
    // at Width's session-capped rule over the catalog's own stats; the
    // whole signature-level chain is materialized HERE (eager
    // checkpoint, signature-bounded rows) while the narrowed conf is in
    // effect, so the caller's record-level expansion join still runs at
    // full session width. The sig/prefArr caches inside the plan are
    // signature-bounded and re-read by every candidate branch + the
    // fixpoint, so the same scope lets AQE coalesce their cached plans
    // too (r18, measured with subset A/B: q_entity_canonical 8.4 → 5.3 s
    // at sf0.1).
    val snap = graft.CacheRegistry.snapshot()
    val out = graft.Width.scoped(sigIn.sparkSession,
        graft.Width.shuffle(graft.Width.capped("er.sig", widthFrom)),
        graft.Width.NarrowCachedPlans) {
      resolveSigsPlan(sigIn, threshold, widthFrom).localCheckpoint(true)
    }
    // the eager checkpoint above fully consumed this call's internal
    // persists (sig, prefArr) and the fixpoint's label checkpoint —
    // release them now instead of holding a generation per call (the
    // streaming drain invokes this once per micro-batch)
    graft.CacheRegistry.releaseSince(snap)
    graft.CacheRegistry.trackCheckpoint(out)
  }

  private def resolveSigsPlan(sigIn: DataFrame, threshold: Double,
                              widthFrom: DataFrame): DataFrame = {
    val p = ErParams(threshold)
    // the signature frame fans out to EVERY stage of the resolution (df
    // table, prefixes, both sides of three candidate joins, both scoring
    // broadcasts, the fixpoint's edge derivation, the final maps) — each
    // broadcast build and the fixpoint's edge persist re-derived the
    // whole tokenize/group subtree from the records without this persist
    // (~8 rebuilds per call, measured r17). Signature-bounded (the table
    // SATURATES by the attribute-combination space — EXPLAINS r17), so
    // the cache is small at any corpus scale.
    val sig = sigIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val stok = sig.select(col("sig_id"), col("m"), explode(col("toks")).as("t"))
    // document frequency over SIGNATURES — any consistent global token
    // order satisfies the prefix lemma; the df table is vocabulary-sized
    // and rides a broadcast join
    val df = stok.groupBy("t").agg(count(lit(1)).as("df"))
    // per-signature rarity-ordered prefix in ONE hash agg (sort the
    // collected (df, t) structs, slice to r) — no sig-keyed window
    val r = least(col("m"),
      floor(col("m").cast("double") * lit(p.oneMinusJmin)).cast("int") + lit(2))
    // consumed by the cross-candidate key explode AND the final
    // block_key join — persisted so the explode/df-join/sort chain runs
    // once (signature-sized rows)
    val prefArr = stok.join(broadcast(df), "t")
      .groupBy(col("sig_id"), col("m"))
      .agg(collect_list(struct(col("df"), col("t"))).as("o"))
      .select(col("sig_id"), col("m"), slice(array_sort(col("o")), lit(1), r).as("pref"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val pairKeys = flatten(transform(col("pref"), (x, i) =>
      transform(slice(col("pref"), i + lit(2), size(col("pref"))),
        y => concat(x.getField("t"), lit("|"), y.getField("t")))))
    val unaryKeys = when(col("m") <= p.unaryM,
      transform(col("pref"), x => concat(x.getField("t"), lit("|"))))
      .otherwise(array().cast("array<string>"))
    val sigAttrs = sig.select(col("sig_id"), col("skey"), col("p_brand"),
      col("p_type"), col("toks"))
    val kattr = prefArr
      .select(col("sig_id"), explode(concat(pairKeys, unaryKeys)).as("bkey"))
      .join(broadcast(sigAttrs.drop("toks")), "sig_id")

    def sides(d: DataFrame): (DataFrame, DataFrame) = (
      d.toDF(d.columns.map("a_" + _).toIndexedSeq: _*),
      d.toDF(d.columns.map("b_" + _).toIndexedSeq: _*))
    // same-token-set branches: equi-joins keyed by (skey + sameBt attrs)
    val (sa, sb) = sides(sigAttrs.drop("toks"))
    val sameKeysets: Seq[Seq[String]] = p.sameBt match {
      case 0 => Seq(Seq("skey"))
      case 1 => Seq(Seq("skey", "p_brand"), Seq("skey", "p_type"))
      case 2 => Seq(Seq("skey", "p_brand", "p_type"))
      case _ => Seq.empty
    }
    val sameCand = sameKeysets.map { ks =>
      sa.join(sb, ks.map(k => col("a_" + k) === col("b_" + k)).reduce(_ && _))
        .filter(col("a_sig_id") < col("b_sig_id"))
        .select(col("a_sig_id").as("a_id"), col("b_sig_id").as("b_id"))
    }
    // cross-token-set branches: prefix-pair keys + crossBt attrs in the key
    val (ka, kb) = sides(kattr)
    val crossKeysets: Seq[Seq[String]] = p.crossBt match {
      case 0 => Seq(Seq("bkey"))
      case 1 => Seq(Seq("bkey", "p_brand"), Seq("bkey", "p_type"))
      case 2 => Seq(Seq("bkey", "p_brand", "p_type"))
      case _ => Seq.empty
    }
    val crossCand = crossKeysets.map { ks =>
      ka.join(kb, ks.map(k => col("a_" + k) === col("b_" + k)).reduce(_ && _))
        .filter(col("a_sig_id") < col("b_sig_id") && col("a_skey") =!= col("b_skey"))
        .select(col("a_sig_id").as("a_id"), col("b_sig_id").as("b_id"))
    }
    val branches = sameCand ++ crossCand
    val edges =
      if (branches.isEmpty)
        sig.sparkSession.emptyDataFrame
          .withColumn("a_id", lit(0L)).withColumn("b_id", lit(0L)).limit(0)
      else {
        val cand = branches.reduce(_ unionByName _).distinct()
        val (xa, xb) = sides(sigAttrs)
        val isz = size(array_intersect(col("a_toks"), col("b_toks"))).cast("double")
        val usz = (size(col("a_toks")) + size(col("b_toks"))).cast("double") - isz
        // association order matches the SQL twin term for term:
        // (0.6 * |∩|) / |∪| + 0.2*brand + 0.2*type, left to right
        val score = quant6(
          lit(0.6) * isz / usz
            + lit(0.2) * when(col("a_p_brand") === col("b_p_brand"), 1.0).otherwise(0.0)
            + lit(0.2) * when(col("a_p_type") === col("b_p_type"), 1.0).otherwise(0.0))
        cand
          .join(broadcast(xa), col("a_id") === col("a_sig_id"))
          .join(broadcast(xb), col("b_id") === col("b_sig_id"))
          .filter(score >= threshold)
          .select("a_id", "b_id")
      }
    // the fixpoint's shuffle width scales with the INPUT's stats, not
    // the session (same device as NearDup.duplicateComponentsUnordered:
    // every loop job launches inside the scope, and the labels frame is
    // localCheckpoint-materialized by loop exit, so downstream
    // consumers shuffle at the restored session width)
    val comps = graft.Width.scoped(sig.sparkSession,
        graft.Width.shuffle(graft.Width.of("er.fixpoint", widthFrom))) {
      NearDup.componentsFromEdges(edges)
        .select(col("id").as("sig_id"), col("lbl"))
    }
    val blockKey = concat(element_at(col("pref"), 1).getField("t"), lit("|"),
      coalesce(element_at(col("pref"), 2).getField("t"), lit("")))
    sig
      .join(comps, Seq("sig_id"), "left")
      .withColumn("entity_id", coalesce(col("lbl"), col("sig_id")))
      .join(prefArr.select(col("sig_id"), blockKey.as("block_key")),
        Seq("sig_id"), "left")
      .select(col("skey"), col("p_brand"), col("p_type"),
        col("entity_id"), col("block_key"))
  }

  /** q_entity_resolve: the per-record assignment — every part, its
    * 2-rarest-prefix blocking key, and the entity it resolved to.
    */
  def resolveParts(part: DataFrame, threshold: Double = 0.8): DataFrame =
    resolvedParts(part, threshold)
      .select(col("p_partkey"), col("block_key"), col("entity_id"))
      .orderBy("p_partkey")

  /** q_entity_canonical: the golden-record census — per entity, the
    * membership/brand/type spread, the price range the duplicates span,
    * and the surviving canonical record (highest price, ties to the
    * lowest key).
    */
  def canonicalParts(part: DataFrame, threshold: Double = 0.8): DataFrame =
    resolvedParts(part, threshold)
      .groupBy("entity_id")
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("p_brand")).as("n_brands"),
        countDistinct(col("p_type")).as("n_types"),
        min(col("p_retailprice")).as("price_min"),
        max(col("p_retailprice")).as("price_max"),
        min(struct((-col("p_retailprice")).as("np"), col("p_partkey"),
          col("p_name"))).as("c"))
      .select(col("entity_id"), col("n_members"), col("n_brands"),
        col("n_types"), col("price_min"), col("price_max"),
        col("c.p_partkey").as("canonical_key"),
        col("c.p_name").as("canonical_name"))
      .orderBy("entity_id")

  /** The oracle twin's WITH-chain, generated from the SAME [[ErParams]]
    * constants the Spark chain uses (string-interpolated Scala doubles
    * round-trip through DuckDB's parser to identical IEEE754 values, so
    * `floor(m·(1−Jmin))` agrees bit-for-bit). OR-joins are written as
    * UNION ALL equi-join branches, mirroring the Spark plan.
    */
  private[graft] def oracleChainFrag(threshold: Double): String = {
    val p = ErParams(threshold)
    def branchSql(table: String, keys: Seq[String], extra: String): String =
      s"""  SELECT a.sig_id AS a_id, b.sig_id AS b_id
         |  FROM $table a JOIN $table b
         |    ON ${keys.map(k => s"a.$k = b.$k").mkString(" AND ")}
         |    AND a.sig_id < b.sig_id$extra""".stripMargin
    val sameBranches = (p.sameBt match {
      case 0 => Seq(Seq("skey"))
      case 1 => Seq(Seq("skey", "p_brand"), Seq("skey", "p_type"))
      case 2 => Seq(Seq("skey", "p_brand", "p_type"))
      case _ => Seq.empty
    }).map(branchSql("sg", _, ""))
    val crossBranches = (p.crossBt match {
      case 0 => Seq(Seq("bkey"))
      case 1 => Seq(Seq("bkey", "p_brand"), Seq("bkey", "p_type"))
      case 2 => Seq(Seq("bkey", "p_brand", "p_type"))
      case _ => Seq.empty
    }).map(branchSql("kattr", _, " AND a.skey <> b.skey"))
    val branches = sameBranches ++ crossBranches
    val candBody =
      if (branches.isEmpty) "  SELECT NULL::BIGINT AS a_id, NULL::BIGINT AS b_id WHERE FALSE"
      else branches.mkString("\n  UNION ALL\n")
    s"""base AS (
       |  SELECT p_partkey, p_name, p_brand, p_type, p_retailprice,
       |    list_sort(list_distinct(list_filter(
       |      string_split_regex(lower(p_name), '[^a-z0-9]+'),
       |      t -> t <> ''))) AS toks
       |  FROM part),
       |bk AS (SELECT *, array_to_string(toks, ' ') AS skey FROM base),
       |sg AS (
       |  SELECT min(p_partkey) AS sig_id, toks, p_brand, p_type,
       |    array_to_string(toks, ' ') AS skey, len(toks) AS m
       |  FROM base GROUP BY toks, p_brand, p_type),
       |stok AS (SELECT sig_id, m, unnest(toks) AS t FROM sg),
       |df AS (SELECT t, count(*) AS df FROM stok GROUP BY 1),
       |rk AS (
       |  SELECT sig_id, m, t,
       |    row_number() OVER (PARTITION BY sig_id ORDER BY df, t) AS rn,
       |    least(m, CAST(floor(m * ${p.oneMinusJmin}) AS BIGINT) + 2) AS r
       |  FROM stok JOIN df USING (t)),
       |pref AS (SELECT sig_id, m, t, rn FROM rk WHERE rn <= r),
       |keys AS (
       |  SELECT a.sig_id, a.t || '|' || b.t AS bkey
       |  FROM pref a JOIN pref b ON a.sig_id = b.sig_id AND a.rn < b.rn
       |  UNION ALL
       |  SELECT sig_id, t || '|' AS bkey FROM pref WHERE m <= ${p.unaryM}),
       |kattr AS (SELECT k.sig_id, k.bkey, s.skey, s.p_brand, s.p_type
       |          FROM keys k JOIN sg s USING (sig_id)),
       |cand AS (
       |  SELECT DISTINCT a_id, b_id FROM (
       |$candBody)),
       |scored AS (
       |  SELECT c.a_id, c.b_id,
       |    floor((0.6 * len(list_intersect(x.toks, y.toks))::DOUBLE /
       |             (len(x.toks) + len(y.toks)
       |              - len(list_intersect(x.toks, y.toks)))
       |           + 0.2 * (CASE WHEN x.p_brand = y.p_brand
       |                    THEN 1.0 ELSE 0.0 END)
       |           + 0.2 * (CASE WHEN x.p_type = y.p_type
       |                    THEN 1.0 ELSE 0.0 END))
       |          * 1000000.0 + 0.5) / 1000000.0 AS score
       |  FROM cand c JOIN sg x ON c.a_id = x.sig_id
       |              JOIN sg y ON c.b_id = y.sig_id),
       |prs AS (SELECT a_id, b_id FROM scored WHERE score >= $threshold),
       |edges AS (
       |  SELECT a_id AS s, b_id AS d FROM prs
       |  UNION ALL SELECT b_id, a_id FROM prs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS sig_id, least(s, min(d)) AS ent
       |        FROM reach GROUP BY s),
       |pb AS (
       |  SELECT sig_id,
       |    max(CASE WHEN rn = 1 THEN t END) || '|' ||
       |    coalesce(max(CASE WHEN rn = 2 THEN t END), '') AS block_key
       |  FROM pref GROUP BY sig_id),
       |sres AS (
       |  SELECT g.skey, g.p_brand, g.p_type,
       |    coalesce(l.ent, g.sig_id) AS entity_id, pb.block_key
       |  FROM sg g LEFT JOIN lbl l USING (sig_id)
       |            LEFT JOIN pb USING (sig_id)),
       |resolved AS (
       |  SELECT b.p_partkey, b.p_name, b.p_retailprice, b.p_brand,
       |    b.p_type, s.entity_id, s.block_key
       |  FROM bk b JOIN sres s
       |    ON b.skey = s.skey AND b.p_brand = s.p_brand
       |   AND b.p_type = s.p_type)""".stripMargin
  }
}
