package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream operators — the batch forms of the reference's streaming
  * surface (SURVEY.md §2.2/2.4/2.9), expressed so the identical
  * DataFrame=>DataFrame functions are reusable inside foreachBatch.
  *
  * Timestamps are emitted as unix microseconds (BIGINT) wherever they cross
  * the oracle boundary: it sidesteps ns-vs-µs parquet precision and
  * session-timezone differences entirely.
  */
object Events {

  /** Group-by time bucket (SURVEY A5 / S4 key derivation): events per
    * (y,m,d,h) with an exact-decimal value sum.
    */
  def timeBucketCounts(events: DataFrame): DataFrame =
    Landing.withTimeBuckets(events, col("ts"))
      .groupBy("y", "m", "d", "h")
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("y", "m", "d", "h")

  /** ROBUST RATE-ANOMALY DETECTION (q_anomaly_mad) — the monitoring pass
    * an event pipeline runs over its own landing rate: per
    * (event_type, hour bucket) counts scored by the MEDIAN/MAD robust
    * z-score rz = (n − median) / (1.4826·MAD). Median and MAD are
    * insensitive to the anomalies themselves (the reason production
    * monitors prefer them to mean/stddev: one incident hour inflates a
    * stddev baseline and masks itself), and 1.4826 rescales MAD to σ
    * under normality, so |rz| > 3 reads as the familiar three-sigma
    * rule. Emits each type's `perType` most anomalous buckets with the
    * flag, so the census is non-empty even on a quiet corpus.
    *
    * Scale shape: the bucket count is one hash agg over the scan
    * (bucket cardinality = |types|·hours — tiny vs the event count);
    * both medians aggregate the BUCKET table, not events, and the
    * per-type stats broadcast back. The rank window is event_type-led
    * over bucket rows — bounded per task. Determinism: hour counts are
    * exact integers; median interpolation is a + (b−a)/2 on integers
    * (exact in IEEE, identical in both engines), MAD likewise on the
    * 0.5-grid deviations; rz through the quant6 law; ties rank by
    * bucket.
    */
  def anomalyMad(events: DataFrame, cut: Double = 3.0,
                 perType: Int = 3): DataFrame =
    anomalyMadFromCounts(
      Landing.withTimeBuckets(events, col("ts"))
        .groupBy(col("event_type"), col("y"), col("m"), col("d"), col("h"))
        .agg(count(lit(1)).as("n_events")),
      cut, perType)

  /** The MAD scorer over a prepared (event_type, y, m, d, h, n_events)
    * bucket table — the seam the streaming twin
    * ([[graft.streaming.StreamOps.streamAnomalyMad]]) feeds its drained
    * per-batch counts through, so batch and stream can never drift.
    */
  private[graft] def anomalyMadFromCounts(bucketCounts: DataFrame,
                                          cut: Double = 3.0,
                                          perType: Int = 3): DataFrame = {
    import Similarity.quant6
    val counts = bucketCounts
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val med = counts.groupBy("event_type")
      .agg(quant6(median(col("n_events").cast("double"))).as("med"))
    val dev = counts.join(broadcast(med), "event_type")
      .withColumn("ad", abs(col("n_events").cast("double") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(quant6(median(col("ad"))).as("mad"))
    val w = Window.partitionBy("event_type")
      .orderBy(abs(col("rz")).desc, col("y"), col("m"), col("d"), col("h"))
    dev.join(broadcast(mad), "event_type")
      .filter(col("mad") > 0)
      .withColumn("rz", quant6(
        (col("n_events").cast("double") - col("med")) /
          (lit(1.4826) * col("mad"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= perType)
      .select(col("event_type"), col("rk"), col("y"), col("m"), col("d"),
        col("h"), col("n_events"), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"), round(col("rz"), 6).as("rz"),
        (abs(col("rz")) > lit(cut)).as("is_anomaly"))
      .orderBy("event_type", "rk")
  }

  /** CLICKSTREAM PATH CENSUS (q_session_paths) — the first-order Markov
    * transition table of the event stream: for each user, consecutive
    * events within a session gap (≤ 30 min, the [[sessionize]]
    * convention) form (from_type → to_type) transitions; the census
    * emits the global top-`topK` transitions with their count and the
    * conditional probability p(to | from) — the "what do users do after
    * X" analysis every product-analytics deployment runs, and the
    * transition matrix a Markov attribution or next-event model trains
    * on.
    *
    * Scale shape: the lead() window partitions on user_id (cardinality
    * = |users|, corpus-parallel; ≤ events-per-user rows per task); the
    * transition census is one hash agg over |types|² keys; the
    * denominators join back as a broadcast; the global top-k rides
    * [[graft.operators.TextAnalysis.withGlobalRank]]. Determinism: gap
    * arithmetic in exact microseconds, p through the quant6 law, ties
    * rank (n desc, from, to).
    */
  def sessionPaths(events: DataFrame, gapUs: Long = 1800L * 1000000L,
                   topK: Int = 20): DataFrame = {
    import Similarity.quant6
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events.repartition(col("user_id"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_us",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .filter(col("to_type").isNotNull && col("gap_us") <= gapUs)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val outTotals = trans.groupBy("from_type")
      .agg(sum(col("n_trans")).as("n_from"))
    trans.join(broadcast(outTotals), "from_type")
      .withColumn("p", quant6(col("n_trans").cast("double") /
        col("n_from").cast("double")))
      .transform(TextAnalysis.withGlobalRank("pair_rank",
        col("n_trans").desc, col("from_type"), col("to_type")))
      .filter(col("pair_rank") <= topK)
      .select(col("pair_rank"), col("from_type"), col("to_type"),
        col("n_trans"), round(col("p"), 6).as("p"))
      .orderBy("pair_rank")
  }

  /** First/last per bucket (SURVEY A1/A2): the reference takes the batch
    * head's timestamp and the batch tail's sequence number; here done
    * correctly per hour bucket with min/max over the total (ts, event_id)
    * order via min_by/max_by equivalents that stay deterministic.
    */
  def bucketFirstLast(events: DataFrame): DataFrame =
    Landing.withTimeBuckets(events, col("ts"))
      .groupBy("y", "m", "d", "h")
      .agg(
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"),
        min(unix_micros(col("ts"))).as("first_ts_us"),
        max(unix_micros(col("ts"))).as("last_ts_us"),
        count(lit(1)).as("n_events"))
      .orderBy("y", "m", "d", "h")

  /** JSON payload parse (SURVEY S2): the events table's `props` column is a
    * JSON document, parsed schema-on-read with from_json exactly like the
    * reference's json.loads (consumer.py:123) but typed and codegen'd.
    */
  val propsSchema: StructType = StructType(Seq(StructField("k", LongType)))

  def parseProps(events: DataFrame): DataFrame =
    events.withColumn("props_parsed",
      from_json(col("props"), propsSchema))

  /** Aggregate over a parsed-JSON field: distribution of props.k deciles. */
  def propsKDeciles(events: DataFrame): DataFrame =
    parseProps(events)
      .withColumn("k_decile", expr("props_parsed.k DIV 10"))
      .groupBy("k_decile")
      .agg(count(lit(1)).as("n_events"),
           sum(col("props_parsed.k")).as("sum_k"))
      .orderBy("k_decile")

  /** Bad-record QUARANTINE census: deterministically corrupt a slice of
    * the props payloads (every 7th event — this sandbox cannot mutate the
    * testdata, so corruption is injected in-plan), parse with `from_json`
    * (PERMISSIVE: malformed input → null struct, never a crash), and
    * report per-type parsed/quarantined counts plus the surviving k-sum —
    * the route-don't-die ingest discipline the reference's defensive
    * record loop implies (a poison record must cost one row, not the
    * consumer). At scale this is pure per-row expression work + one hash
    * agg.
    */
  def quarantineCensus(events: DataFrame): DataFrame =
    events
      .withColumn("raw",
        when(pmod(col("event_id"), lit(7)) === 0,
          regexp_replace(col("props"), "\\{", "<")).otherwise(col("props")))
      .withColumn("parsed", from_json(col("raw"), propsSchema))
      // PERMISSIVE from_json yields an all-null-FIELDS struct for
      // malformed input (not a null struct) — the quarantine test is the
      // mandatory field, which every well-formed payload carries
      .groupBy("event_type")
      .agg(count(when(col("parsed.k").isNotNull, 1)).as("n_parsed"),
           count(when(col("parsed.k").isNull, 1)).as("n_quarantined"),
           sum(col("parsed.k")).as("sum_k_parsed"))
      .orderBy("event_type")

  /** Data-quality rule audit (SURVEY P8): declarative per-row rules →
    * exploded (event_id, issue) rows, mirroring the reference's
    * data_quality array-of-struct (event.py:33-37) built with
    * when/array/filter instead of producer-side Python.
    */
  def dataQuality(events: DataFrame): DataFrame = {
    val issues = array(
      when(col("value") > 400,
        struct(lit("value_outlier").as("field_name"),
               lit("value above 400").as("issue_details"))),
      when(col("event_type") === "error",
        struct(lit("event_type").as("field_name"),
               lit("error event landed in clickstream").as("issue_details"))),
      when(col("props").isNull || length(col("props")) === 0,
        struct(lit("props").as("field_name"),
               lit("props is blank").as("issue_details"))))
    events
      .withColumn("dq", filter(issues, c => c.isNotNull))
      .filter(size(col("dq")) > 0)
      .select(col("event_id"), explode(col("dq")).as("issue"))
      .select(col("event_id"),
              col("issue.field_name").as("field_name"),
              col("issue.issue_details").as("issue_details"))
      .orderBy("event_id", "field_name")
  }

  /** As-of join (SURVEY J4): for each purchase event, the most recent view
    * event of the same user at or before it.
    *
    * Implementation: union both sides with a marker and carry the latest
    * view id/ts forward with last(ignoreNulls) over a per-user window
    * ordered by (ts, marker, event_id) — views sort before purchases at
    * equal ts, matching ASOF's `<=`. One shuffle on user_id, no range
    * explosion, and per-user state is O(1) — this survives 100× data where
    * a naive range self-join would not.
    */
  def asofPurchaseView(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("side"))
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), lit(0).as("side"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("last_view_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_view_ts_us",
        last(when(col("side") === 0, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
              unix_micros(col("ts")).as("purchase_ts_us"),
              col("last_view_id"), col("last_view_ts_us"))
      .orderBy("purchase_id")
  }

  /** As-of with TOLERANCE: like [[asofPurchaseView]], but a match older
    * than `toleranceMinutes` is discarded (nulled) — the bounded-staleness
    * form (kdb `wj`, pandas merge_asof(tolerance=...)) a production as-of
    * user expects: a view from last week is not the view that drove this
    * purchase. Same O(1)-per-user carry-forward window; the tolerance is
    * one post-hoc predicate, so the scale shape is unchanged.
    */
  def asofPurchaseViewTolerance(events: DataFrame,
                                toleranceMinutes: Int): DataFrame = {
    val tolUs = toleranceMinutes * 60L * 1000000L
    val base = asofPurchaseView(events)
    val fresh = col("last_view_ts_us").isNotNull &&
      col("purchase_ts_us") - col("last_view_ts_us") <= tolUs
    base.select(col("purchase_id"), col("user_id"), col("purchase_ts_us"),
      when(fresh, col("last_view_id")).as("last_view_id"),
      when(fresh, col("last_view_ts_us")).as("last_view_ts_us"))
  }

  /** FORWARD as-of: each purchase matched to the user's FIRST view
    * at-or-after it (the other direction of [[asofPurchaseView]] —
    * "what did they look at next"). Same union+window construction
    * scanned in DESCENDING time order: carrying last-seen-view backward
    * yields the earliest view ≥ the purchase; at equal ts the view sorts
    * before the purchase in scan order (>= is inclusive), and among
    * equal-ts views the smallest event_id wins (event_id desc in scan
    * order, matching the oracle's ASOF >= tie-break).
    */
  def asofPurchaseNextView(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("side"))
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), lit(0).as("side"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("side"), col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("next_view_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("next_view_ts_us",
        last(when(col("side") === 0, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
              unix_micros(col("ts")).as("purchase_ts_us"),
              col("next_view_id"), col("next_view_ts_us"))
      .orderBy("purchase_id")
  }

  /** Sessionization (SURVEY §2.5): gap-based sessions per user. Batch form
    * uses the same lag/cumsum construction as the SQL oracle; the streaming
    * form (streaming.StreamOps) uses session_window with a watermark.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs || lag(col("us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(wRun))
      .groupBy("user_id", "session_no")
      .agg(min(col("us")).as("session_start_us"),
           max(col("us")).as("session_end_us"),
           count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("user_id", "session_no")
  }

  /** SEASONAL decomposition census (q_seasonal) — per (event_type,
    * hour-of-day): the seasonal mean and the residual variance around
    * it — the additive-seasonality baseline (value = seasonal + residual)
    * a monitoring pipeline subtracts before thresholding, and the
    * companion to [[anomalyMad]]: MAD scores rates against a global
    * median; this scores values against their time-of-day norm, so a
    * 3 a.m. lull stops reading as an anomaly and a 3 a.m. spike starts.
    *
    * Scale shape: one bucket agg (|types|·24 rows) broadcast back onto
    * one streamed residual pass — two scans, no window, no shuffle
    * beyond the two group-bys. Determinism: hour-of-day is integer
    * micros arithmetic (UTC-pinned sessions); the mean divides an exact
    * DECIMAL(18,2) sum and passes quant6 (it feeds the residuals);
    * squared residuals quantize then accumulate DECIMAL(18,6).
    */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    import Similarity.quant6
    val bucketed = events.select(col("event_type"),
      (expr("unix_micros(ts) DIV 3600000000") % 24).as("hod"), col("value"))
    val seasonal = bucketed.groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_events"),
        quant6(sum(col("value").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("seasonal_mean"))
    bucketed.join(broadcast(seasonal), Seq("event_type", "hod"))
      .withColumn("r2", quant6(
        (col("value") - col("seasonal_mean")) *
        (col("value") - col("seasonal_mean"))))
      .groupBy("event_type", "hod")
      .agg(min(col("n_events")).as("n_events"),
        min(col("seasonal_mean")).as("seasonal_mean"),
        round(sum(col("r2").cast("decimal(18,6)")).cast("double") /
          min(col("n_events")), 6).as("resid_var"))
      .orderBy("event_type", "hod")
  }

  /** CUSUM CHANGEPOINT census (q_cusum; Page 1954 / Taylor's cumulative-
    * deviation form) — per event type, the hour where the cumulative
    * deviation of the hourly count series from its own mean peaks: the
    * level-shift detector that catches a REGIME CHANGE (deploy, outage,
    * product launch) where [[anomalyMad]] catches point spikes and
    * [[seasonalDecompose]] explains daily shape. C_t = Σ_{i≤t}(x_i − x̄)
    * swings furthest exactly where the series' mean shifts; the argmax
    * is the standard changepoint estimate, and |C| at the peak is the
    * shift's magnitude in events.
    *
    * Scale shape: one (type, hour) hash agg, the running prefix on
    * [[TextAnalysis.withGroupedPrefix]] (event_type is a handful of
    * values — never a type-partitioned window), a |types|-row broadcast
    * of the totals, one max agg, and one equi join back to recover the
    * argmax row. Determinism: the deviation is kept SCALED —
    * D_t = T·Σ_{i≤t}x_i − t·S is exact integer arithmetic (C_t = D_t/T
    * divides once at display) — so the argmax and tie-break (earliest
    * hour) compare exact longs, never accumulated floats.
    */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    val hourly = events
      .select(col("event_type"), expr("unix_micros(ts) DIV 3600000000").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("x"))
    val pre = hourly.transform(TextAnalysis.withGroupedPrefix(
        Seq("event_type"), "t_idx", "cum_prev", col("x"), col("hr")))
      .withColumn("cum", col("cum_prev") + col("x"))
    val totals = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("n_events"))
    val dev = pre.join(broadcast(totals), "event_type")
      .withColumn("d",
        col("n_hours") * col("cum") - col("t_idx") * col("n_events"))
      .withColumn("absd", abs(col("d")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val peaks = dev.groupBy("event_type").agg(max(col("absd")).as("absd"))
    dev.join(peaks, Seq("event_type", "absd"))
      .groupBy("event_type")
      .agg(min(col("n_hours")).as("n_hours"),
        min(col("n_events")).as("n_events"),
        min(col("hr")).as("cp_hr"),
        min_by(when(col("d") > 0, lit(1)).when(col("d") < 0, lit(-1))
          .otherwise(lit(0)), col("hr")).cast("int").as("cp_sign"),
        round(min(col("absd")).cast("double") / min(col("n_hours")), 6)
          .as("cusum_abs"))
      .orderBy("event_type")
  }

  /** SEASONAL-NAIVE FORECAST BACKTEST (q_forecast_naive) — the baseline
    * every forecasting deployment must beat, evaluated honestly: predict
    * each hour's event count from the expanding mean of all PRIOR
    * observations of the same (event type, hour-of-day) slot, then
    * census the backtest per type (MAPE + MAE over every hour that had
    * history). Completes the time-series family — [[Events.ewmaSmooth
    * smooth]], [[seasonalDecompose decompose]], [[cusumChangepoint
    * changepoint]], forecast — and the prior-data-only discipline is
    * structural, not a convention: the forecast reads the EXCLUSIVE
    * prefix sum, so leakage of the predicted hour into its own
    * forecast is impossible by construction.
    *
    * Scale shape: one (type, hour) hash agg; the expanding prefix rides
    * [[TextAnalysis.withGroupedPrefix]] over the 120 (type, hod) groups
    * (never a low-cardinality-led window); the census is one more hash
    * agg. Determinism: the prefix and counts are exact longs; the
    * forecast divides once and passes quant6 (it feeds the errors);
    * each error term quantizes then accumulates DECIMAL(18,6).
    */
  def forecastNaive(events: DataFrame): DataFrame =
    forecastFromHourly(hourlyTypeCounts(events))

  /** The (event_type, epoch-hour) count table — the ADDITIVE state the
    * streaming twin maintains per micro-batch (counts merge by sum into
    * exactly this table, the [[anomalyMadFromCounts]] device). */
  private[graft] def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr("unix_micros(ts) DIV 3600000000").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("x"))

  /** The backtest core over an already-aggregated hourly count table —
    * shared by [[forecastNaive]] and the streaming monitor so batch and
    * at-ingest backtests can never drift. */
  private[graft] def forecastFromHourly(hourlyCounts: DataFrame): DataFrame = {
    import Similarity.quant6
    val hourly = hourlyCounts.withColumn("hod", col("hr") % 24)
    val backtest = hourly.transform(TextAnalysis.withGroupedPrefix(
        Seq("event_type", "hod"), "t_idx", "cum_prev", col("x"), col("hr")))
      .filter(col("t_idx") > 1)
      .withColumn("f", quant6(col("cum_prev").cast("double") /
        (col("t_idx") - 1)))
      .withColumn("ape", quant6(abs(col("x") - col("f")) / col("x")))
      .withColumn("ae", quant6(abs(col("x") - col("f"))))
    backtest.groupBy("event_type")
      .agg(count(lit(1)).as("n_backtests"),
        round(sum(col("ape").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mape"),
        round(sum(col("ae").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mae"))
      .orderBy("event_type")
  }

  /** SPLIT-CONFORMAL PREDICTION intervals on the walk-forward forecast
    * (q_conformal; Vovk et al. 2005 / Angelopoulos & Bates 2023 survey
    * form) — the distribution-free wrapper that turns ANY point
    * forecaster into calibrated intervals: take the [[forecastNaive]]
    * backtest residuals, split each (event_type, hour-of-day) series
    * temporally into a calibration prefix (first 4/5 of backtests) and
    * a test suffix, set q̂ to the ⌈(n_cal+1)(1−α)⌉-th smallest
    * calibration |residual| (pooled per event type), and report how
    * often the test actuals land inside forecast ± q̂ — the guarantee
    * says ≥ 1−α coverage in expectation, and the census VERIFIES it
    * per type instead of assuming it. The eval-rigor companion to the
    * time-series family: [[forecastFromHourly]] scores point error,
    * this calibrates uncertainty.
    *
    * Scale shape: the backtest reuses the grouped-prefix device (one
    * skew-free pass), the split is integer arithmetic on per-group
    * counts, and q̂ is one order statistic per event type over the
    * calibration pool — a per-type sort of backtest-sized (not
    * event-sized) data; everything downstream is broadcast of a
    * |types|-row frame. Determinism: α = 1/10 and the 4/5 split are
    * applied as INTEGER arithmetic (⌈(n+1)·9/10⌉ = ((n+1)·9+9) DIV 10),
    * so no engine ever rounds a float rank; residuals are quant6;
    * the order statistic tie-breaks on (hod, hr).
    */
  def conformalForecast(events: DataFrame): DataFrame =
    conformalFromHourly(hourlyTypeCounts(events))

  /** The conformal assembly over an already-aggregated hourly count
    * table — shared by [[conformalForecast]] and the streaming monitor
    * ([[graft.streaming.StreamOps.streamConformal]]), the
    * [[forecastFromHourly]] seam: per-batch counts merge additively
    * into exactly this table, so at-ingest calibration can never drift
    * from the batch computation.
    */
  private[graft] def conformalFromHourly(hourlyCounts: DataFrame): DataFrame = {
    import Similarity.quant6
    val bt = hourlyCounts
      .withColumn("hod", col("hr") % 24)
      .transform(TextAnalysis.withGroupedPrefix(
        Seq("event_type", "hod"), "t_idx", "cum_prev", col("x"), col("hr")))
      .filter(col("t_idx") > 1)
      .withColumn("f", quant6(col("cum_prev").cast("double") /
        (col("t_idx") - 1)))
      .withColumn("ae", quant6(abs(col("x") - col("f"))))
      .withColumn("bt_idx", col("t_idx") - 1)
    val grpN = bt.groupBy("event_type", "hod")
      .agg(count(lit(1)).as("bt_n"))
    val split = bt.join(broadcast(grpN), Seq("event_type", "hod"))
      .withColumn("is_cal", col("bt_idx") <= expr("bt_n * 4 div 5"))
    val cal = split.filter(col("is_cal"))
    val calN = cal.groupBy("event_type").agg(count(lit(1)).as("n_cal"))
    val wCal = Window.partitionBy("event_type")
      .orderBy(col("ae"), col("hod"), col("hr"))
    val qhat = cal
      .withColumn("rk", row_number().over(wCal))
      .join(broadcast(calN), "event_type")
      .filter(col("rk") ===
        least(expr("((n_cal + 1) * 9 + 9) div 10"), col("n_cal")))
      .select(col("event_type"), col("n_cal"), col("ae").as("qhat"))
    split.filter(!col("is_cal"))
      .join(broadcast(qhat), "event_type")
      .groupBy("event_type")
      .agg(min(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        min(col("qhat")).as("qhat"),
        sum((col("ae") <= col("qhat")).cast("long")).as("n_covered"))
      .withColumn("coverage",
        round(col("n_covered").cast("double") / col("n_test"), 6))
      .select("event_type", "n_cal", "n_test", "qhat", "n_covered",
        "coverage")
      .orderBy("event_type")
  }

  /** LAST-TOUCH ATTRIBUTION census (q_attribution) — each purchase
    * credited to the last non-purchase touchpoint inside its own
    * 30-minute session (the attribution model conversion reporting
    * defaults to); a purchase with no prior touch in-session is
    * 'direct'. Completes the clickstream family: [[funnelCounts]]
    * orders the steps, [[retentionCohorts]] tracks return, session
    * paths measure transitions — attribution assigns the credit.
    *
    * Scale shape: the same user-led sessionization windows as
    * [[sessionize]] plus one (user, session)-led running last — every
    * window shards on the user key (cardinality = |users|), the census
    * is |event_types| rows. Determinism: integer microsecond gaps,
    * event_id tie-break, value mass in exact DECIMAL(18,2).
    */
  def lastTouchAttribution(events: DataFrame,
                           gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessioned = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs ||
             lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(wRun))
    val wSess = Window.partitionBy("user_id", "session_no")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sessioned
      .withColumn("touch", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(wSess))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed", coalesce(col("touch"), lit("direct")))
      .groupBy("attributed")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("attributed_value"))
      .orderBy("attributed")
  }

  /** COHORT LTV CURVE (q_ltv_cohort) — the BI read that joins the
    * retention matrix to money: per acquisition cohort (a user's first
    * active day) and cohort age in days, the active-user count, that
    * day's purchase revenue, the running cumulative revenue, and
    * LTV-to-date = cumulative revenue over cohort size — the payback
    * curve a growth team reads against acquisition cost. Completes the
    * clickstream-BI family (funnel orders steps, retention tracks
    * return, attribution assigns credit, period-over-period trends it,
    * THIS prices the cohort).
    *
    * Scale shape: one user-keyed first-day agg, one (cohort, age) hash
    * agg over facts, then census-row windows (|cohorts|·|ages| — the
    * q_period_over_period discipline) and a cohort-size broadcast.
    * Determinism: revenue in exact DECIMAL end-to-end; the one divide
    * is display-rounded.
    */
  def ltvCohorts(events: DataFrame): DataFrame =
    ltvFromUserDays(ltvUserDays(events))

  /** KAPLAN-MEIER survival census (q_survival_km) — time-to-churn with
    * RIGHT CENSORING, the estimator retention analysis graduates to
    * when "did the user come back" ([[retention]]) isn't enough and the
    * question is "what fraction SURVIVES past t, given that still-active
    * users tell us nothing about their eventual churn". Per user:
    * duration t = whole days between first and last event; the user
    * CHURNED if their last event precedes the corpus horizon by at least
    * `censorDays` days, else they are censored (still active — their
    * true lifetime exceeds t, which KM accounts for by keeping them in
    * the at-risk set through t without counting a death). Cohort = the
    * user's FIRST event type (the acquisition-channel analog in this
    * schema). S(t) = Π_{u ≤ t} (1 − d_u / n_u) over event times.
    *
    * Determinism: durations and exits are integer micros; each hazard
    * factor enters as quant6(ln(1 − d/n)) and the running product is an
    * exact DECIMAL(18,6) sum of those terms, exponentiated once at
    * emission — the same quant6-ln/exp device the hash-matched
    * q_ab_sequential mSPRT and bm25 idf use, so the curve is
    * engine-portable. A cell where d = n (everyone at risk churns)
    * zeroes the curve explicitly rather than passing ln(0) to either
    * engine.
    *
    * Scale shape: one user-keyed agg over facts (shuffle on user_id),
    * then every window runs over the (cohort × distinct-duration)
    * census — |cohorts|·|days| rows at any corpus size (the
    * q_period_over_period discipline); cohort sizes broadcast back.
    * The corpus horizon is computed IN-PLAN (the [[winsorize]]
    * broadcast-scalar device: a global agg column-pruned to `ts` alone,
    * partial-agged to one row per input partition, broadcast back), not
    * via a driver-side action — constructing the DataFrame runs no job,
    * one query executes one plan, and an empty input degrades to an
    * empty result instead of a null-horizon NPE.
    */
  def survivalKm(events: DataFrame, censorDays: Int = 1): DataFrame = {
    val dayUs = 86400000000L
    val perUserRaw = events
      .withColumn("us", unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(min(struct(col("us"), col("event_id"), col("event_type"))).as("f"),
        min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val horizon = events.agg(max(unix_micros(col("ts"))).as("horizon_us"))
    val perUser = perUserRaw
      .crossJoin(broadcast(horizon))
      .select(col("f.event_type").as("cohort"),
        expr(s"(last_us - first_us) DIV $dayUs").as("t_days"),
        (col("horizon_us") - col("last_us") >= lit(censorDays * dayUs))
          .cast("long").as("churn"))
    val cells = perUser.groupBy("cohort", "t_days")
      .agg(sum(col("churn")).as("n_event"),
        sum(lit(1L) - col("churn")).as("n_censor"),
        count(lit(1)).as("n_exit"))
    val sizes = perUser.groupBy("cohort").agg(count(lit(1)).as("n_total"))
    val wPrev = Window.partitionBy("cohort").orderBy("t_days")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy("cohort").orderBy("t_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(broadcast(sizes), "cohort")
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("n_exit")).over(wPrev), lit(0L)))
      .withColumn("term", when(col("n_event") < col("n_risk"),
        Similarity.quant6(log(lit(1.0) -
          col("n_event").cast("double") / col("n_risk").cast("double")))))
      .withColumn("dead",
        max((col("n_event") === col("n_risk")).cast("int")).over(wCum))
      .withColumn("cum_ln",
        sum(col("term").cast("decimal(18,6)")).over(wCum))
      .select(col("cohort"), col("t_days"), col("n_risk"),
        col("n_event"), col("n_censor"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(Similarity.quant6(exp(
            coalesce(col("cum_ln").cast("double"), lit(0.0)))))
          .as("survival"))
      .orderBy("cohort", "t_days")
  }

  /** The ADDITIVE per-(user, day) partial (n_events, DECIMAL purchase
    * revenue) — a user-day cell split across micro-batches merges by
    * sum, so the streaming twin lands exactly this unit per batch.
    */
  private[graft] def ltvUserDays(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)")))
          .cast("decimal(18,2)").as("revenue"))

  /** LTV assembly from merged (user_id, day, n_events, revenue) rows —
    * the drain side of the streaming twin and the second half of
    * [[ltvCohorts]], so the two can never drift. (user, day) rows are
    * unique here, so per-(cohort, age) activity is a plain count.
    */
  private[graft] def ltvFromUserDays(ud: DataFrame): DataFrame = {
    val cohorts = ud.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val sizes = cohorts.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    val daily = ud.join(cohorts, "user_id")
      .withColumn("age",
        datediff(to_date(col("day")), to_date(col("cohort_day"))))
      .groupBy("cohort_day", "age")
      .agg(count(lit(1)).as("n_active"),
        sum(col("revenue")).cast("decimal(18,2)").as("revenue"))
    val w = Window.partitionBy("cohort_day").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_revenue", sum(col("revenue")).over(w))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("age"), col("n_active"),
        col("revenue").cast("double").as("revenue"),
        col("cum_revenue").cast("double").as("cum_revenue"),
        round(col("cum_revenue").cast("double") /
          col("cohort_size").cast("double"), 6).as("ltv"))
      .orderBy("cohort_day", "age")
  }

  /** AUTOCORRELATION FUNCTION (q_acf) — the diagnostic read BEFORE
    * choosing a seasonal period or a forecasting model (Box–Jenkins
    * identification): per event type, the ACF of the hourly count
    * series at lags 1..`maxLag` — a spike at lag 24 says "daily
    * seasonality", slow decay says "trend, difference first". Computed
    * over the DENSE hourly grid (zero-filled between each series'
    * observed [min, max] hour — the resample device; ACF on a gappy
    * grid is a different, wrong statistic).
    *
    * Scale shape: the corpus collapses to the (type, hour) census in
    * the first hash agg; everything after (grid fill, lag windows,
    * moment sums) runs on census rows — |types|·|hours| — per the
    * q_period_over_period census-window precedent. Determinism: counts
    * exact; the mean goes through quant6 (it feeds every deviation);
    * deviation products quant6'd then DECIMAL-summed; a zero-variance
    * series reports NULL (guarded), never a division error.
    */
  def autocorrelation(events: DataFrame, maxLag: Int = 12): DataFrame = {
    import graft.operators.Similarity.quant6
    val buckets = events
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("x"))
    val grid = buckets.groupBy("event_type")
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hr"))
    val dense = grid.join(buckets, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("x"), lit(0L)).as("x"))
    val stats = dense.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum(col("x")).as("_sx"))
      .select(col("event_type"), col("n_hours"),
        quant6(col("_sx").cast("double") /
          col("n_hours").cast("double")).as("xbar"))
    val dev = dense.join(broadcast(stats), "event_type")
      .withColumn("d", col("x").cast("double") - col("xbar"))
    val den = dev.groupBy("event_type")
      .agg(sum(quant6(col("d") * col("d")).cast("decimal(38,6)"))
        .cast("double").as("den"))
    val w = Window.partitionBy("event_type").orderBy("hr")
    val lagCols = (1 to maxLag).map(k => lag(col("d"), k).over(w).as(s"d_$k"))
    val lagged = dev.select(
      (Seq(col("event_type"), col("d")) ++ lagCols): _*)
    val pairs = lagged.select(col("event_type"), col("d"),
      expr(s"stack($maxLag, " +
        (1 to maxLag).map(k => s"$k, d_$k").mkString(", ") +
        ") as (lag, dl)"))
      .filter(col("dl").isNotNull)
    pairs
      .groupBy("event_type", "lag")
      .agg(sum(quant6(col("d") * col("dl")).cast("decimal(38,6)"))
        .cast("double").as("num"))
      .join(broadcast(den), "event_type")
      .join(broadcast(stats.select("event_type", "n_hours")), "event_type")
      .select(col("event_type"), col("lag"), col("n_hours"),
        round(when(col("den") > 0.0, col("num") / col("den")), 6).as("acf"))
      .orderBy("event_type", "lag")
  }

  /** POSITION-BASED (U-shaped) MULTI-TOUCH ATTRIBUTION
    * (q_attribution_position) — the multi-touch companion to
    * [[lastTouchAttribution]]'s single-credit model: each purchase's
    * value is SPLIT across every preceding touchpoint in its own
    * session — first touch 40%, last touch 40%, the middle touches
    * share the remaining 20% equally (n = 1 → 100%, n = 2 → 50/50,
    * no touch → 'direct' at 100%) — the standard U-shaped rule
    * marketing analytics runs when neither first- nor last-touch
    * deserves all the credit. Census per attributed type: credit rows,
    * total credit mass, and credited value.
    *
    * Scale shape: the same user-led sessionization as [[sessionize]];
    * the touch×purchase fan-out is bounded by session size (the
    * q_funnel device — sessions are gap-bounded, never corpus-sized);
    * the position windows key on the PURCHASE id (event-cardinality —
    * parallel). Determinism: integer-microsecond ordering with
    * event_id tie-breaks; credits are exact literals or one quantized
    * integer-ratio divide; credited value quantized after the one
    * multiply, then DECIMAL-summed.
    */
  def positionAttribution(events: DataFrame,
                          gapMinutes: Int = 30): DataFrame = {
    import graft.operators.Similarity.quant6
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessioned = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs ||
             lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(wRun))
    val purchases = sessioned.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("session_no"),
        col("event_id").as("p_eid"), col("us").as("p_us"),
        col("value").as("p_val"))
    val touches = sessioned.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_uid"), col("session_no").as("t_sno"),
        col("event_id").as("t_eid"), col("us").as("t_us"),
        col("event_type").as("t_type"))
    val joined = purchases.join(touches,
      col("user_id") === col("t_uid") && col("session_no") === col("t_sno")
        && (col("t_us") < col("p_us") ||
            (col("t_us") === col("p_us") && col("t_eid") < col("p_eid"))),
      "left")
    val wp = Window.partitionBy("p_eid").orderBy(col("t_us"), col("t_eid"))
    val credit = joined
      .withColumn("rk", row_number().over(wp))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("p_eid")))
      .withColumn("attributed", coalesce(col("t_type"), lit("direct")))
      .withColumn("credit",
        when(col("t_eid").isNull || col("n") === 1, lit(1.0))
          .when(col("rk") === 1 || col("rk") === col("n"),
            when(col("n") === 2, lit(0.5)).otherwise(lit(0.4)))
          .otherwise(quant6(
            lit(0.2) / (col("n") - lit(2)).cast("double"))))
      .withColumn("credited", quant6(col("credit") * col("p_val")))
    credit.groupBy("attributed")
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit").cast("decimal(18,6)")).cast("double")
          .as("credit_mass"),
        sum(col("credited").cast("decimal(18,6)")).cast("double")
          .as("credited_value"))
      .orderBy("attributed")
  }

  /** Array-operator suite (F8-full) over the synthesized
    * message_event_types tags: sort, distinct-union with a constant tag
    * set, membership position, per-row existential/universal predicates,
    * and flatten of the query-string pair array — every one a codegen'd
    * collection expression, aggregated to an oracle-checkable summary.
    */
  def arrayOpsSummary(events: DataFrame): DataFrame = {
    val nested = nestedFromFlat(events)
    nested
      .withColumn("tags",
        sort_array(array_union(col("message_event_types"),
          typedlit(Seq("raw_event", "audited")))))
      .withColumn("n_tags", size(col("tags")))
      .withColumn("audit_pos", array_position(col("tags"), "audited"))
      .withColumn("has_purchase", array_contains(col("tags"), "purchase"))
      .withColumn("all_nonempty",
        forall(col("tags"), t => length(t) > 0))
      .withColumn("qs_flat_n",
        size(flatten(col("pageview.query_string_array"))))
      .groupBy("has_purchase")
      .agg(count(lit(1)).as("n_events"),
           sum(col("n_tags").cast("long")).as("sum_tags"),
           min(col("audit_pos")).as("min_audit_pos"),
           sum(when(col("all_nonempty"), 1L).otherwise(0L)).as("n_all_nonempty"),
           sum(col("qs_flat_n").cast("long")).as("sum_qs_flat"))
      .orderBy("has_purchase")
  }

  /** Sliding event-time window (SURVEY T8: tumbling/sliding/session —
    * the sliding form): 12h windows every 6h, so each event lands in two
    * windows. Spark expands the slide map-side (one row per covered
    * window) before the hash aggregation; the oracle reproduces the
    * epoch-aligned window starts arithmetically.
    */
  def slidingCounts(events: DataFrame, widthHours: Int, slideHours: Int): DataFrame =
    events
      .groupBy(window(col("ts"), s"$widthHours hours", s"$slideHours hours").as("w"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_seconds(col("w.start")).as("window_start_s"),
              col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start_s", "event_type")

  /** DISTINCT aggregation under event-time windows: unique active users
    * per sliding window — the windowed-DAU shape, combining the sliding
    * pane expansion with a distinct agg (each event lands in width/slide
    * panes, then the per-window distinct collapses repeat visitors).
    * Exact distinct; the approximate twin at 100 TB is the same query
    * with approx_count_distinct (bounded like q_approx_distinct).
    */
  def slidingDistinctUsers(events: DataFrame, widthHours: Int,
                           slideHours: Int): DataFrame =
    events
      .groupBy(window(col("ts"), s"$widthHours hours", s"$slideHours hours").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .select(unix_seconds(col("w.start")).as("window_start_s"),
              col("n_users"), col("n_events"))
      .orderBy("window_start_s")

  /** Range (interval) join: events against overlapping time intervals
    * (SURVEY custom-operator list: "as-of join, range join"). The naive
    * plan is a BroadcastNestedLoopJoin with a range predicate — fine only
    * while one side broadcasts. This is the big×big-safe form: intervals
    * explode to the day buckets they cover, events carry their day, and
    * the join is a hash equi-join on the bucket with the range predicate
    * as a post-filter. Each event lives in exactly one day bucket, so no
    * pair dedup is needed. Intervals: 60 windows of 36h, stepping 12h
    * from the corpus's first midnight (deterministic, derived from data).
    *
    * The corpus's first midnight is computed IN-PLAN (the [[survivalKm]]
    * broadcast-scalar device: a global min column-pruned to `ts` alone,
    * crossJoin(broadcast)-ed onto the 60-row interval frame) — not via a
    * driver-side action: constructing the DataFrame runs no job, the
    * events table is scanned by ONE query (the min pass reads only the
    * ts column), and an empty input yields an empty result instead of a
    * null-minDay NPE.
    */
  def rangeJoinCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val dayUs = 86400L * 1000000L
    val base = events.select(col("event_id"), unix_micros(col("ts")).as("us"),
      col("value"))
    val minDayDf = events.agg(
      (min(expr("unix_micros(ts) DIV 86400000000")) * dayUs).as("min_day_us"))
    val intervalDays = spark.range(60).toDF("interval_id")
      .crossJoin(broadcast(minDayDf))
      .select(col("interval_id"),
        (col("min_day_us") + col("interval_id") * (dayUs / 2)).as("start_us"))
      .withColumn("end_us", col("start_us") + lit(36L * 3600L * 1000000L))
      .withColumn("day", explode(sequence(
        expr("start_us DIV 86400000000"), expr("(end_us - 1) DIV 86400000000"))))
    base
      .withColumn("day", expr("us DIV 86400000000"))
      .join(broadcast(intervalDays), "day")
      .filter(col("us") >= col("start_us") && col("us") < col("end_us"))
      .groupBy("interval_id")
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("interval_id")
  }

  /** Two-phase salted aggregation for skewed group keys: event_type has
    * single-digit cardinality, so at 1000 executors a direct groupBy sends
    * each key's entire volume through one reducer. Salting fans each key
    * across `salts` partial groups (map-side combine still applies), then
    * a cheap second phase merges |keys|×salts partials. Decimal partial
    * sums are associative, so the result is bit-identical to the direct
    * aggregation — which is exactly what the oracle checks.
    */
  def saltedTypeRevenue(events: DataFrame, salts: Int): DataFrame =
    events
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy("event_type", "salt")
      .agg(sum(col("value").cast("decimal(18,2)")).as("part_sum"),
           count(lit(1)).as("part_n"))
      .groupBy("event_type")
      .agg(sum(col("part_sum")).cast("double").as("sum_value"),
           sum(col("part_n")).as("n_events"))
      .orderBy("event_type")

  /** Timestamp string round-trip (SURVEY F1, reference consumer.py:222-225
    * parses 'yyyy-MM-dd HH:mm:ss.SSS'): format each event time to the
    * reference's string form, parse it back with to_timestamp, and
    * aggregate on the parsed value — proving the parse path end-to-end.
    * The .SSS format truncates to milliseconds, which the oracle
    * reproduces arithmetically.
    */
  def tsParseRoundtrip(events: DataFrame): DataFrame = {
    val fmt = "yyyy-MM-dd HH:mm:ss.SSS"
    events
      .withColumn("event_date_time", date_format(col("ts"), fmt))
      .withColumn("parsed", to_timestamp(col("event_date_time"), fmt))
      .groupBy(year(col("parsed")).as("y"), month(col("parsed")).as("m"),
               dayofmonth(col("parsed")).as("d"), hour(col("parsed")).as("h"))
      .agg(count(lit(1)).as("n_events"),
           min(unix_micros(col("parsed"))).as("first_us"),
           max(unix_micros(col("parsed"))).as("last_us"))
      .orderBy("y", "m", "d", "h")
  }

  /** JSON serialize → parse round-trip (SURVEY F5, consumer.py:241
    * json.dumps): to_json(struct) then from_json, aggregating on the
    * parsed fields so the whole round-trip is oracle-checked.
    */
  def jsonRoundtrip(events: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    events
      // single-file scan → one input split would run the whole per-row
      // serde chain in one task (same pathology as NearDup.shingleSets);
      // spread rows across cores before the expensive expression work
      .repartition(col("event_id"))
      .withColumn("js", to_json(struct(col("event_id"), col("event_type"), col("value"))))
      .withColumn("back", from_json(col("js"), schema))
      .groupBy(col("back.event_type").as("event_type"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("back.event_id")).as("n_ids"),
           sum(col("back.value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Email-ish pattern for the redaction scrub — the regex subset RE2,
    * java.util.regex, and DuckDB's RE2 all interpret identically (char
    * classes + bounded repetition, no lookaround).
    */
  val EmailPattern: String = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** PII-style redaction pass (the scrub a pretraining pipeline runs
    * before training): synthesize a deterministic contact string per
    * event (the testdata carries no real PII, so the oracle can rebuild
    * it), then count and regexp-replace email addresses and long digit
    * runs. Pure per-row codegen'd regex work + one tiny shuffle; at
    * 100 TB this is embarrassingly parallel over row partitions — the
    * repartition only cures the single-file local scan.
    */
  def redactionStats(events: DataFrame): DataFrame =
    events
      .repartition(col("event_id"))
      .withColumn("contact",
        concat(lit("reach user"), col("user_id"), lit(" at u"), col("user_id"),
               lit("@example.com or ref "), col("event_id")))
      .withColumn("n_email", regexp_count(col("contact"), lit(EmailPattern)))
      .withColumn("n_num", regexp_count(col("contact"), lit("[0-9]{4,}")))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("contact"), EmailPattern, "<email>"),
                       "[0-9]{4,}", "<num>"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum(col("n_email").cast("long")).as("n_emails"),
           sum(col("n_num").cast("long")).as("n_nums"),
           sum(length(col("redacted")).cast("long")).as("n_chars_redacted"))
      .orderBy("event_type")

  /** Synthesizes the reference's nested event shape (SURVEY §1.2,
    * record.json:3) from the flat events table: visit.device.user struct
    * chain, login_status ('guest' | 'logged in:<id>', event.py:11),
    * query_string_array k/v pairs (event.py:27-31) and
    * message_event_types tags (record.json:19) — deterministic functions
    * of the flat columns so the DuckDB oracle can reconstruct the same
    * values from the original table.
    */
  def nestedFromFlat(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("ts"), col("event_type"),
      struct(
        concat(lit("sess-"), col("user_id")).as("tealium_session_id"),
        when(col("user_id") % 3 === 0, lit("guest"))
          .otherwise(concat(lit("logged in:u"), col("user_id")))
          .as("login_status"),
        struct(
          lit("agent/1.0").as("useragent"),
          when(col("user_id") % 2 === 0, "web").otherwise("mobileweb")
            .as("rendering_reference"),
          concat(lit("v-"), col("user_id")).as("visitor_id"),
          struct(
            when(col("user_id") % 3 === 0, lit(null).cast("string"))
              .otherwise(col("user_id").cast("string")).as("user_id"),
            when(col("user_id") % 3 === 0, lit(null).cast("string"))
              .otherwise(concat(lit("w"), col("user_id"))).as("websphere_id"))
            .as("user")).as("device")).as("visit"),
      struct(
        concat(lit("/page/"), col("event_type")).as("page_url"),
        array(array(lit("et"), col("event_type")),
              array(lit("uid"), col("user_id").cast("string")),
              // a %-escaped + '+'-spaced value, so the url_decode path
              // (F7) is exercised on data that actually needs decoding
              array(lit("ref"), concat(lit("p%2Fq+"), col("event_type"))))
          .as("query_string_array")).as("pageview"),
      array(lit("raw_event"), lit("page_view"), col("event_type"))
        .as("message_event_types"))

  /** Flatten operator on the nested shape (SURVEY P3): nested structs →
    * underscore-joined top-level columns via the generic recursive walk.
    */
  def flattenedEvents(events: DataFrame): DataFrame =
    graft.EventSchema.flatten(
      nestedFromFlat(events).select("event_id", "visit", "pageview"))
      .select("event_id", "visit_tealium_session_id", "visit_login_status",
              "visit_device_user_user_id", "visit_device_user_websphere_id",
              "pageview_page_url")
      .orderBy("event_id")

  /** login_status parse + aggregate (SURVEY F6). The repartition spreads
    * the struct synthesis + double regexp across cores — the single-file
    * events scan would otherwise run it all in one task.
    */
  def loginStatusStats(events: DataFrame): DataFrame = {
    val nested = nestedFromFlat(events.repartition(col("event_id")))
    nested
      .withColumn("status", graft.EventSchema.loginStatus(col("visit.login_status")))
      .withColumn("ws_id", graft.EventSchema.websphereId(col("visit.login_status")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("ws_id")).as("n_users"))
      .orderBy("status")
  }

  /** query-string map + array_contains (SURVEY F7/F8): k/v pair array →
    * map (values %-unescaped via url_decode), lookup, tag-membership
    * filter. decoded_ref proves the decode: the synthesized 'ref' value
    * carries a %2F escape and a '+' space that must come back as '/ '.
    */
  def queryStringStats(events: DataFrame): DataFrame = {
    val nested = nestedFromFlat(events)
    nested
      .withColumn("qm", graft.EventSchema.queryStringMap(
        col("pageview.query_string_array")))
      .withColumn("et", element_at(col("qm"), "et"))
      .groupBy("et")
      .agg(count(lit(1)).as("n_events"),
           sum(when(array_contains(col("message_event_types"), "purchase"), 1L)
             .otherwise(0L)).as("n_purchase_tagged"),
           countDistinct(element_at(col("qm"), "uid")).as("n_uids"),
           min(element_at(col("qm"), "ref")).as("decoded_ref"))
      .orderBy("et")
  }

  /** Tumbling event-time window (SURVEY T8) in its batch form; the window
    * start is emitted as epoch seconds (Spark windows are epoch-aligned,
    * floor(epoch/width)*width, which the oracle reproduces exactly).
    */
  def tumblingCounts(events: DataFrame, hours: Int): DataFrame =
    events
      .groupBy(window(col("ts"), s"$hours hours").as("w"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_seconds(col("w.start")).as("window_start_s"),
              col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start_s", "event_type")

  /** Cohort RETENTION: users grouped by their first-activity day (the
    * cohort), counted on each subsequent day they return — the retention
    * matrix next to [[funnelCounts]] in the clickstream-analytics pair.
    * Distinct (user, day) first so a user's many events collapse before
    * any join; then one user-keyed join against per-user cohort day and
    * one (cohort, offset) hash agg. Day arithmetic is integer micros DIV,
    * identical in both engines.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val e = events
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $dayUs").as("day"))
      .distinct()
    val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    e.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Clickstream FUNNEL view → click → purchase: how many users complete
    * each ordered stage — the conversion query of the reference's domain
    * (its events ARE pageview clickstream records). Stage k+1 counts only
    * events strictly AFTER the user's stage-k completion time, so the
    * order is enforced, not just co-occurrence. Each stage is one
    * filtered scan + hash agg + equi-join on user_id (high-cardinality
    * key) — three narrow shuffles, no window over the full stream, no
    * per-user sorting; the shape survives any number of users.
    */
  def funnelCounts(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("us") > col("t1"))
      .groupBy("user_id").agg(min(col("us")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("us") > col("t2"))
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage(s1, "1_view")
      .unionByName(stage(s2, "2_click"))
      .unionByName(stage(s3, "3_purchase"))
      .orderBy("stage")
  }

  /** TIME-BOUNDED funnel: like [[funnelCounts]], but stage k+1 must land
    * within `maxLagHours` of the user's stage-k completion — the
    * conversion-window form real funnel analytics gate on (a purchase a
    * month after the click is not the same conversion). Same three
    * narrow user-keyed join/agg shuffles; the window is one extra range
    * predicate per join, free at any scale.
    */
  def funnelWindowedCounts(events: DataFrame, maxLagHours: Int): DataFrame = {
    val lagUs = maxLagHours * 3600L * 1000000L
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("us") > col("t1") && col("us") <= col("t1") + lagUs)
      .groupBy("user_id").agg(min(col("us")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("us") > col("t2") && col("us") <= col("t2") + lagUs)
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage(s1, "1_view")
      .unionByName(stage(s2, "2_click"))
      .unionByName(stage(s3, "3_purchase"))
      .orderBy("stage")
  }

  /** Z-ordered two-dimensional layout + selective scan (q_zorder_scan):
    * events written clustered by the Morton key of (user_id, day) —
    * range-repartitioned and sorted within partitions on the interleaved
    * bits ([[graft.functions.ZOrder]]) — then read back through a
    * predicate on BOTH dimensions. A user_id-sorted layout would skip
    * nothing for the day band and vice versa; under the z-key every
    * row-group is a rectangle in (user, day) space, so parquet min/max
    * stats prune on both predicates at once. The clustering shuffle is
    * the same range exchange a single-column sort pays, and it is paid
    * ONCE at write time — at 100 TB this (like the bucketed layout) is a
    * property of the table, amortized over every selective scan after.
    * Layout never changes values, so the oracle is the plain filtered
    * aggregate over the raw table.
    */
  def zorderScan(spark: org.apache.spark.sql.SparkSession,
                 events: DataFrame): DataFrame = {
    import graft.functions.ZOrder
    val layoutDir = graft.Scratch.dir("zorder")
    val keyed = events.withColumn("day", dayofmonth(col("ts")))
    val stats = keyed.agg(
      min("user_id").as("ulo"), max("user_id").as("uhi"),
      min("day").as("dlo"), max("day").as("dhi"))
    keyed.crossJoin(broadcast(stats))
      .withColumn("zk", ZOrder.interleave16(
        ZOrder.scale16(col("user_id"), col("ulo"), col("uhi")),
        ZOrder.scale16(col("day"), col("dlo"), col("dhi"))))
      .drop("ulo", "uhi", "dlo", "dhi")
      .repartitionByRange(8, col("zk"))
      .sortWithinPartitions("zk")
      // fresh subdir per invocation: the returned DataFrame reads lazily,
      // so overwriting one shared dir from a second call (concurrent bench
      // rep) could delete files under a still-pending scan. The shutdown
      // hook removes the whole root, subdirs included.
      .write.mode("overwrite").parquet(layoutDir)
    spark.read.parquet(layoutDir)
      .filter(col("user_id") <= 7 && col("day").between(8, 14))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Type-2 slowly-changing-dimension history (q_scd2): the events log
    * read as a change stream of each user's `event_type` state, collapsed
    * into versioned validity intervals — the warehouse operation every
    * dimension-table pipeline runs on top of a landed event feed (the
    * reference lands the raw feed, SURVEY §2.2; this is the modeled layer
    * above it). A version begins at the first event of each consecutive
    * same-state run (change-point = lag(state) differs), ends where the
    * next version begins (`valid_to_us` = lead of the next change-point's
    * timestamp, NULL while current).
    *
    * Scale shape: both windows partition on `user_id` — the dimension's
    * natural key, cardinality = |users| — so state per task is one
    * entity's history and the whole build is a single shuffle on the key
    * it would be bucketed by in a warehouse. No global window, no
    * collect; change-points shrink the second window's input to the
    * version rows only.
    */
  def scd2(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val changes = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val wv = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    changes
      .withColumn("version_no", row_number().over(wv).cast("long"))
      .withColumn("valid_to_us", lead(col("us"), 1).over(wv))
      .select(col("user_id"), col("event_type").as("state"),
        col("version_no"), col("us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.cast("int").as("is_current"))
      .orderBy("user_id", "version_no")
  }

  /** Time-series resampling with forward fill (q_resample_ffill): each
    * user's event values re-gridded onto a regular hourly lattice —
    * per-(user, hour) last observation wins, missing hours are
    * carried forward from the most recent observed hour — the gap-fill
    * every metrics/feature pipeline applies before joining series of
    * different densities.
    *
    * Determinism: the per-slot "last" observation is a max over
    * (us, event_id, value) structs — a total order, no window needed for
    * the collapse. The grid is each user's [min, max] observed slot via
    * `sequence`, so the first grid row is always observed (no leading
    * NULL to define away). The fill is last-non-null over slot order.
    *
    * Scale shape: one hash agg on (user, slot), one per-user min/max agg
    * fanned back out by `sequence` (output is exactly the resampled grid
    * — the size any resample must produce), one shuffle-shared
    * forward-fill window on the series key `user_id` (cardinality =
    * |series|; at warehouse scale that is millions of tasks' worth of
    * parallelism, and the per-task state is one row — the running last).
    */
  def resampleFfill(events: DataFrame): DataFrame =
    resampledGrid(events).orderBy("user_id", "slot_us")

  /** The un-ordered forward-filled grid — shared by [[resampleFfill]]
    * (which only adds the oracle-determinism sort) and
    * [[rollingFeatures]] (which layers trailing windows on top without
    * inheriting a mid-plan range exchange).
    */
  private def resampledGrid(events: DataFrame): DataFrame = {
    val slotUs = 3600L * 1000000L
    val obs = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("slot", expr(s"unix_micros(ts) DIV $slotUs"))
      .groupBy("user_id", "slot")
      .agg(max(struct(col("us"), col("event_id"), col("value"))).as("o"))
      .select(col("user_id"), col("slot"), col("o.value").as("v"))
    // PINNED spread after the sequence-explode (r17): the grid generate
    // amplifies the |users|-row agg ~175× (one row per slot), but the
    // stage's width is fixed by the TINY pre-explode exchange — AQE
    // coalesced it to ONE task at sf0.1 (a few KB of agg output), and
    // every downstream pass (fill window, feature windows, the ewma
    // chain) ran serially on 29 idle cores (measured: two 4 s one-task
    // stages). AQE can only merge partitions, never split a post-
    // generate explosion, so the rebalance is pinned to the session
    // shuffle width (conf-parameterised — the deployment's width, not a
    // local constant) on the skinny (user, slot) rows.
    val gridWidth = events.sparkSession.sessionState.conf.numShufflePartitions
    // The pin sits UPSTREAM of the grid agg, ON the one exchange the
    // whole downstream chain rides (r17 follow-up): a repartition placed
    // after the agg or after the join is ELIMINATED as redundant —
    // hashpartitioning(user_id) already flows from the agg's exchange
    // through Generate and the broadcast join into both windows — and
    // that ENSURE_REQUIREMENTS exchange is AQE-coalesced by its
    // PRE-explode byte count (a few KB per user) while the stage's real
    // work is post-explode (~175 slot rows per user row): AQE undersizes
    // the stage by the amplification factor at ANY scale (measured: the
    // full fill+ewma window chain on ONE task at sf0.1). Pinning the
    // width on this exchange makes it user-specified — reused by the
    // agg, never coalesced, and still the only shuffle in the chain.
    val grid = obs.repartition(gridWidth, col("user_id"))
      .groupBy("user_id")
      .agg(min("slot").as("lo"), max("slot").as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("slot"))
    val w = Window.partitionBy("user_id").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "slot"), "left")
      .withColumn("value_ffill", last(col("v"), ignoreNulls = true).over(w))
      .select(col("user_id"), (col("slot") * slotUs).as("slot_us"),
        col("value_ffill"), col("v").isNotNull.cast("int").as("is_observed"))
  }

  /** Trailing-window features over the resampled series
    * (q_rolling_features): 7-slot moving average, min, max, and
    * observed-count per (user, hour) — the feature block a
    * training-data pipeline derives from every regularized series.
    * Values enter the windows as exact integer micros (the quant6
    * law applied once, then long arithmetic), so the trailing sums
    * are order-exact and the mean is one division at the end.
    *
    * Scale shape: the [[resampledGrid]] passes plus one more window,
    * all sharded on the series key; the trailing features ride a
    * `win`-deep lag chain (O(1) work and O(win) state per row — see
    * the in-body comment), never a per-row frame re-scan.
    */
  def rollingFeatures(events: DataFrame, win: Int = 7): DataFrame = {
    require(win >= 1, s"rollingFeatures: win must be >= 1, got $win")
    // O(1)-per-row LAG CHAIN, not a sliding ROWS frame: `win` explicit
    // lags over ONE user_id-sorted pass (the ewmaSmooth device — Spark
    // groups all offsets of one window spec into a single WindowExec),
    // then the four features are plain row-level expressions over the
    // lag columns. A rowsBetween frame re-aggregates its `win` inputs
    // for EVERY output row × every aggregate (sf1 measured the frame
    // version at 21.5× for 10× data — per-user frame re-scan state and
    // spill); the lag chain carries `win` values per row once. Exactness
    // is unchanged: the same integer-micro values enter the same sums
    // (coalesce(lag,0) with an explicit present-count replaces the
    // frame's shrink-at-partition-head), min/max via least/greatest
    // (both skip NULL lags), so ma/min/max/n_obs are bit-identical to
    // the frame version — the oracle hash is shared.
    val w = Window.partitionBy("user_id").orderBy("slot_us")
    val lagsV = (0 until win).map(i =>
      if (i == 0) col("v_us") else lag(col("v_us"), i).over(w))
    val sumV = lagsV.map(c => coalesce(c, lit(0L))).reduce(_ + _)
    // denominator = ROWS in the trailing frame (min(row_number, win)),
    // exactly the frame version's count(lit(1)) — NOT a non-null-lag
    // count, which would diverge from the old semantics if a NULL
    // value_ffill ever reached this boundary (it can't today: the grid
    // starts at each user's first OBSERVED slot, so the ffill always
    // has a seed — but the denominator should not depend on that)
    val nIn = least(row_number().over(w).cast("long"), lit(win.toLong))
    val minV = if (win == 1) lagsV.head else least(lagsV: _*)
    val maxV = if (win == 1) lagsV.head else greatest(lagsV: _*)
    val nObs = (0 until win).map { i =>
      val c = if (i == 0) col("is_observed")
              else lag(col("is_observed"), i).over(w)
      coalesce(c.cast("long"), lit(0L))
    }.reduce(_ + _)
    resampledGrid(events)
      .withColumn("v_us",
        expr("CAST(floor(value_ffill * 1000000.0 + 0.5) AS BIGINT)"))
      .withColumn("ma", Similarity.quant6(
        sumV.cast("double") / (nIn * lit(1000000.0))))
      .withColumn("min_v", minV.cast("double") / lit(1e6))
      .withColumn("max_v", maxV.cast("double") / lit(1e6))
      .withColumn("n_obs", nObs)
      .select(col("user_id"), col("slot_us"), col("ma"), col("min_v"),
        col("max_v"), col("n_obs"))
      .orderBy("user_id", "slot_us")
  }

  /** Percentile winsorization census (q_winsorize): per event_type,
    * values clipped into [p05, p95] (exact interpolated percentiles —
    * the [[Warehouse.pricePercentiles]] cross-engine law) with the
    * clip counts and the clipped sum — the outlier treatment a
    * feature/reward pipeline applies before normalization. The
    * clipped sum accumulates as exact integer micros so the clipped
    * percentile values' long decimal tails cannot make the sum
    * order- or engine-dependent.
    *
    * Scale shape: one percentile pass per group (exact sorts per
    * group — the documented swap at 100 TB is approx_percentile),
    * then the 5-row percentile frame broadcasts back onto one
    * streamed clip-and-aggregate pass.
    */
  def winsorize(events: DataFrame): DataFrame = {
    val pct = events.groupBy("event_type").agg(
      expr("percentile(value, 0.05)").as("p05"),
      expr("percentile(value, 0.95)").as("p95"))
    events.join(broadcast(pct), "event_type")
      .withColumn("clipped",
        when(col("value") < col("p05"), col("p05"))
          .when(col("value") > col("p95"), col("p95"))
          .otherwise(col("value")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum((col("value") < col("p05")).cast("long")).as("n_clip_lo"),
        sum((col("value") > col("p95")).cast("long")).as("n_clip_hi"),
        (sum(expr("CAST(floor(clipped * 1000000.0 + 0.5) AS BIGINT)"))
          .cast("double") / lit(1e6)).as("sum_clipped"),
        min(col("p05")).as("p05"), min(col("p95")).as("p95"))
      .orderBy("event_type")
  }

  /** Time-series resampling with LINEAR INTERPOLATION
    * (q_resample_interp): the [[resampleFfill]] grid, but gap slots
    * take the straight line between the surrounding observations —
    * v = prev + (next − prev) · (slot − prev_slot)/(next_slot −
    * prev_slot) — the fill a numeric sensor/metric series wants where
    * a categorical-ish series wants carry-forward. Every gap slot has
    * both neighbors because the grid spans exactly the observed
    * [min, max] slots. The arithmetic is a fixed-order IEEE chain on
    * exactly-represented integers and stored doubles, quantized at
    * output.
    *
    * Scale shape: identical to [[resampleFfill]] plus one mirrored
    * window (first-non-null over the following frame) — still two
    * passes over the grid, sharded on the series key.
    */
  def resampleInterp(events: DataFrame): DataFrame = {
    val slotUs = 3600L * 1000000L
    val obs = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("slot", expr(s"unix_micros(ts) DIV $slotUs"))
      .groupBy("user_id", "slot")
      .agg(max(struct(col("us"), col("event_id"), col("value"))).as("o"))
      .select(col("user_id"), col("slot"), col("o.value").as("v"))
    // same pinned post-explode spread as [[resampledGrid]] (r17) — the
    // two mirrored fill windows otherwise run on the one AQE-coalesced
    // task of the pre-explode agg exchange
    val gridWidth = events.sparkSession.sessionState.conf.numShufflePartitions
    // same upstream pin as [[resampledGrid]] (r17)
    val grid = obs.repartition(gridWidth, col("user_id"))
      .groupBy("user_id")
      .agg(min("slot").as("lo"), max("slot").as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("slot"))
    val wPrev = Window.partitionBy("user_id").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "next observation" as a RUNNING frame over the reversed sort:
    // first_value over [current, unbounded following] makes Spark
    // re-scan the tail per row (quadratic per partition — measured 51 s
    // on the sf0.1 grid); last_value over the descending running frame
    // is the same value in O(n)
    val wNext = Window.partitionBy("user_id").orderBy(col("slot").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "slot"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("ps",
        last(when(col("v").isNotNull, col("slot")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("nv", last(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("ns",
        last(when(col("v").isNotNull, col("slot")), ignoreNulls = true)
          .over(wNext))
      // quant6 (floor(x·1e6 + 0.5)/1e6), not round(): interpolated
      // midpoints of 2-decimal values land exactly on the half-quantum
      // boundary, where engine round() conventions differ
      .withColumn("value_interp", Similarity.quant6(
        when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("slot") - col("ps")).cast("double") /
             (col("ns") - col("ps")).cast("double")))))
      .select(col("user_id"), (col("slot") * slotUs).as("slot_us"),
        col("value_interp"), col("v").isNotNull.cast("int").as("is_observed"))
      .orderBy("user_id", "slot_us")
  }

  /** EXPONENTIALLY weighted moving average over the resampled series
    * (q_ewma): per (user, hour), the trailing `span`-slot EWMA with
    * decay 0.75 — the smoother a metrics/feature pipeline reaches for
    * when a plain moving average lags too far behind level shifts
    * (recent slots dominate; the window still bounds state). The
    * normalization re-weights by the sum of the weights actually
    * present, so the series head (fewer than `span` trailing slots)
    * is an average of what exists, not damped toward zero — the
    * `adjust=True` convention.
    *
    * Scale shape: the [[resampledGrid]] passes plus `span` LAG
    * expressions over ONE window keyed on the series key — a single
    * shuffle shared with the grid's forward fill, per-task state
    * bounded at `span` rows, no frame re-scan (lag is O(1) per row).
    *
    * Determinism: values enter as exact integer micros; each weighted
    * term w_i·v and each present weight w_i passes the quant6 law and
    * accumulates as DECIMAL(18,6) (order-exact — a double sum of
    * 1e-6 multiples is not), so numerator and denominator are
    * bit-identical cross-engine; the final division is one IEEE op,
    * display-rounded. Weights 0.75^i are dyadic rationals emitted as
    * exact decimal literals on both sides — no pow() anywhere.
    */
  def ewmaSmooth(events: DataFrame, span: Int = 8): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("slot_us")
    val wts = ewmaWeights(span)
    val grid = resampledGrid(events)
      .withColumn("v_us",
        expr("CAST(floor(value_ffill * 1000000.0 + 0.5) AS BIGINT)"))
    // INTEGER-MICRO accumulation (r17): the former form summed each
    // quant6'd term through a DECIMAL(18,6) cast chain — 16 decimal
    // casts + a precision-promoting decimal add tree per row, measured
    // at ~38 µs/row (4 s for the sf0.1 grid on one task). The decimal
    // cast of quant6(x) = floor(x·1e6 + 0.5)/1e6 recovers the integer
    // numerator k EXACTLY (the double is within 2^-53 relative of
    // k·1e-6, and Decimal(double) parses Double.toString's shortest
    // round-trip form — k·1e-6 verbatim), so summing the k's as LONGS
    // and dividing once by 1e6 is value-identical: Σk < 2^53 is exact
    // in double, x/1e6 is one correctly-rounded IEEE op, and
    // BigDecimal(Σk·1e-6).doubleValue is the same correctly-rounded
    // value. The per-term double chain inside floor() is kept verbatim
    // (wt · lag / 1e6 · 1e6 + 0.5), so every rounding decision is
    // bit-identical to the decimal form — the oracle hash is unchanged
    // (re-verified at sf0.01/sf0.1 this round).
    val terms = (0 until span).map { i =>
      val lagv = if (i == 0) col("v_us") else lag(col("v_us"), i).over(w)
      val wt = lit(wts(i))
      val denMu = math.floor(wts(i) * 1e6 + 0.5).toLong
      (when(lagv.isNotNull,
          floor(wt * lagv.cast("double") / lit(1e6) * lit(1e6) + lit(0.5))
            .cast("long"))
         .otherwise(lit(0L)),
       when(lagv.isNotNull, lit(denMu)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    grid
      .withColumn("ewma", round((num.cast("double") / lit(1e6)) /
        (den.cast("double") / lit(1e6)), 6))
      .select(col("user_id"), col("slot_us"), col("value_ffill"), col("ewma"))
      .orderBy("user_id", "slot_us")
  }

  /** 0.75^i for i < span as exact doubles (dyadic rationals — every
    * product is exactly representable; `toString` round-trips them as
    * exact decimal literals for the SQL twin). */
  def ewmaWeights(span: Int): Seq[Double] =
    Iterator.iterate(BigDecimal(1))(_ * BigDecimal("0.75"))
      .take(span).map(_.toDouble).toSeq

  /** Point-in-time dimension lookup (q_scd2_lookup): each purchase
    * joined to the [[scd2]] version valid ONE HOUR BEFORE it — "what
    * was the user doing an hour before buying", the temporal join a
    * type-2 dimension exists to answer (a same-instant lookup would be
    * trivial here, since the purchase event itself opens a version).
    * Purchases earlier than an hour into the user's history keep a
    * NULL prior state (left join — facts are never dropped by a
    * dimension gap).
    *
    * Scale shape: an equi join on the dimension's natural key
    * `user_id` with the interval containment as a post-join predicate
    * — at warehouse scale both sides shuffle (or are bucketed) on
    * user_id and each fact meets only its own user's handful of
    * versions, never a time-range cross product.
    */
  def scd2Lookup(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val dim = scd2(events).select(col("user_id"),
      col("state").as("prior_state"),
      col("version_no").as("prior_version_no"),
      col("valid_from_us"), col("valid_to_us"))
    val facts = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_ts_us"))
      .withColumn("asof_us", col("purchase_ts_us") - hourUs)
    facts.join(dim,
        facts("user_id") === dim("user_id") &&
        col("valid_from_us") <= col("asof_us") &&
        (col("valid_to_us").isNull || col("valid_to_us") > col("asof_us")),
        "left")
      .select(col("purchase_id"), facts("user_id"), col("purchase_ts_us"),
        col("prior_state"), col("prior_version_no"))
      .orderBy("purchase_id")
  }

  /** One refresh of an incrementally-maintained aggregate view
    * (q_mv_merge): the batch's partial aggregates merged into the
    * persisted MV store by the count/sum merge law (union + re-agg —
    * sums of sums, counts of counts; the value sum stays DECIMAL(18,2)
    * in the store so merge order can never perturb it). Refresh cost
    * is |batch| + |view|, never the accumulated fact history — the
    * point of maintaining a view incrementally. At warehouse scale the
    * store would be bucketed on the group key with touched-buckets
    * dynamic overwrite (the [[graft.streaming.StreamOps]] upsert
    * discipline); this view is group-cardinality-sized, so a plain
    * overwrite IS the bucketed write.
    */
  /** One batch's partial aggregates in the MV store shape — the unit of
    * state both the batch refresh ([[mvMergeBatch]]) and the streaming
    * maintainer land; counts and DECIMAL sums are ADDITIVE, so partials
    * merge by [[mvMergeRows]] regardless of how history was batched. */
  private[graft] def mvPartial(batch: DataFrame): DataFrame =
    batch
      .withColumn("day", dayofmonth(col("ts")))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .as("sum_value"))

  /** The count/sum merge law: union of partial rows re-aggregated —
    * sums of sums, counts of counts, DECIMAL(18,2) throughout so merge
    * order can never perturb the stored value. */
  private[graft] def mvMergeRows(rows: DataFrame): DataFrame =
    rows.groupBy("event_type", "day")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_value")).cast("decimal(18,2)").as("sum_value"))

  /** The served-view projection shared by the batch and streaming
    * maintainers (the one display cast, applied after all merging). */
  private[graft] def mvServe(view: DataFrame): DataFrame =
    view.select(col("event_type"), col("day"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("event_type", "day")

  def mvMergeBatch(batch: DataFrame, storeDir: String): Unit = {
    val spark = batch.sparkSession
    val mvSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("day", IntegerType),
      StructField("n_events", LongType),
      StructField("sum_value", DecimalType(18, 2))))
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store =
      if (fs.exists(storePath))
        spark.read.schema(mvSchema).parquet(storeDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mvSchema)
    val merged = mvMergeRows(store.unionByName(mvPartial(batch)))
      .localCheckpoint() // materialize before overwriting what it reads
    merged.write.mode("overwrite").parquet(storeDir)
    // the write above is the checkpoint's only consumer (r18)
    org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(merged)
  }

  /** PERIOD-OVER-PERIOD census (q_period_over_period) — the BI staple
    * every revenue dashboard leads with: per (event_type, day), the
    * day's event count and DECIMAL-exact value sum next to the
    * week-ago (lag-7) figures and the percent change. The lag rides a
    * window over the DAY CENSUS (|types|·|days| rows — the corpus
    * collapses to census size in the first hash agg, so the
    * small-key-partitioned window is census-sized, never
    * row-cardinality; the suite's window law is about corpus-sized
    * frames). Days without a week-ago counterpart emit NULL change —
    * absence of a baseline is information, not zero.
    *
    * Determinism: counts and DECIMAL(18,2) sums are exact; the percent
    * change divides two exact decimals once as doubles,
    * display-rounded.
    */
  def periodOverPeriod(events: DataFrame, lagDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"), dayofmonth(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .as("sum_value"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("_prev_day", lag(col("day"), lagDays).over(w))
      .withColumn("_prev_sum", lag(col("sum_value"), lagDays).over(w))
      .select(col("event_type"), col("day"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"),
        // the lag-N row only counts as the week-ago baseline when the
        // day arithmetic agrees (a gap-free grid makes them equal; a
        // sparse one must not compare against the wrong week)
        when(col("_prev_day") === col("day") - lagDays,
          col("_prev_sum").cast("double")).as("prev_sum_value"),
        round(when(col("_prev_day") === col("day") - lagDays,
          (col("sum_value") - col("_prev_sum")).cast("double") /
            col("_prev_sum").cast("double") * 100.0), 6).as("pct_change"))
      .orderBy("event_type", "day")
  }

  /** Histogram-quantile estimation from an aggregated (event_type, bin,
    * n) fixed-bin count table — the Prometheus histogram_quantile
    * estimator: find the bin where the cumulative count crosses p·N,
    * interpolate linearly inside it. Fixed a-priori bins are the whole
    * trick: BIN COUNTS ARE ADDITIVE, so per-batch histograms merge by
    * sum and the streaming estimate is bit-identical to the batch one
    * — the property exact percentiles (which need the full sorted
    * data) and floating bin edges (which depend on global min/max)
    * both lack. The crossing-bin scan is a window over the BIN CENSUS
    * (|types|·|bins| rows — census-sized, never row-cardinality), not
    * over the data.
    */
  private[graft] def percentilesFromBins(bins: DataFrame, binW: Double,
                                         ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wdw = Window.partitionBy("event_type").orderBy("bin")
    val cum = bins
      .withColumn("cum", sum(col("n")).over(wdw))
      .withColumn("cum_before", col("cum") - col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val tot = bins.groupBy("event_type").agg(sum(col("n")).as("n_tot"))
    ps.map { p =>
      cum.join(broadcast(tot), "event_type")
        .withColumn("target", lit(p) * col("n_tot").cast("double"))
        .filter(col("cum").cast("double") >= col("target"))
        .withColumn("rk", org.apache.spark.sql.functions.row_number()
          .over(Window.partitionBy("event_type").orderBy("bin")))
        .filter(col("rk") === 1)
        .select(col("event_type"), lit(p).as("p"),
          round(col("bin").cast("double") * lit(binW) + lit(binW) *
            (col("target") - col("cum_before").cast("double")) /
              col("n").cast("double"), 6).as("est"))
    }.reduce(_ unionByName _).orderBy("event_type", "p")
  }

  /** The fixed-bin histogram of a batch — the mergeable state unit both
    * the batch estimator and the streaming monitor land. */
  private[graft] def valueBins(batch: DataFrame, binW: Double,
                               nBins: Int): DataFrame =
    batch.groupBy(col("event_type"),
        least(floor(col("value") / lit(binW)).cast("long"),
          lit((nBins - 1).toLong)).as("bin"))
      .agg(count(lit(1)).as("n"))

  /** JOIN-KEY SKEW audit (q_skew_audit) — the pre-join census that
    * tells you WHETHER a key needs the salting treatment before the
    * shuffle hits it (the suite ships the cure in [[saltedTypeRevenue]]
    * and the AQE skew-join runtime net; this is the diagnosis): per
    * audited key column, total rows, distinct keys, the largest group,
    * the mean group, the heaviest key's row share, how many keys exceed
    * 10× the mean, and a skew flag — the numbers that decide between a
    * plain shuffle join, a broadcast, and a salted/AQE plan. A key
    * whose top group holds 1% of a 100 TB fact table is a 1 TB straggler
    * partition; this census is how you find it BEFORE the join does.
    *
    * Scale shape: per column one hash agg on the key (map-side partial
    * combine — group sizes, not rows, cross the shuffle), then a
    * one-row collapse and a broadcast-scalar re-join to count heavy
    * keys; the union is |audited columns| one-row frames. Determinism:
    * counts are exact; the mean divides once; share and the 10× cut
    * compare IEEE-identical operands on both engines.
    */
  def skewAudit(events: DataFrame,
                keys: Seq[String] = Seq("event_type", "user_id")): DataFrame =
    keys.map { c =>
      skewCensusFromGroups(
        events.groupBy(col(c)).agg(count(lit(1)).as("n")), c)
    }.reduce(_ unionByName _).orderBy("key_col")

  /** The skew census over an already-aggregated (key, n) group table —
    * group sizes are ADDITIVE on the key, so the streaming monitor's
    * drained per-batch key counts merge by sum into exactly this input
    * and the at-ingest census can never drift from [[skewAudit]]'s.
    */
  private[graft] def skewCensusFromGroups(groups0: DataFrame,
                                          keyCol: String): DataFrame = {
    val groups = groups0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheRegistry.track)
    val totals = groups.agg(sum(col("n")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("n")).as("max_group"))
    val heavy = groups.crossJoin(broadcast(totals))
      .filter(col("n").cast("double") >
        lit(10.0) * col("n_rows").cast("double") /
          col("n_keys").cast("double"))
      .agg(count(lit(1)).as("n_heavy_10x"))
    totals.crossJoin(broadcast(heavy))
      .select(lit(keyCol).as("key_col"), col("n_rows"), col("n_keys"),
        col("max_group"),
        round(col("n_rows").cast("double") / col("n_keys").cast("double"),
          6).as("avg_group"),
        round(col("max_group").cast("double") / col("n_rows").cast("double"),
          6).as("top_share"),
        col("n_heavy_10x"),
        (col("max_group").cast("double") >
          lit(10.0) * col("n_rows").cast("double") /
            col("n_keys").cast("double")).cast("int").as("is_skewed"))
  }

  /** RETRACTION-aware MV maintenance (q_mv_retract) — the change-stream
    * form of the incremental view (the retract-stream model CDC
    * pipelines and Flink-style dynamic tables use): the view consumes
    * signed DELTAS — insert (+1, +value), retraction (−1, −value) — so
    * an upstream CORRECTION (a revised fact) maintains the view as
    * retract-old + insert-new instead of a full refresh. Scenario
    * derived deterministically from the one driver table: every
    * event_id ≡ 0 mod 10 is corrected to value + 5.00; the served view
    * must equal the one-shot GROUP BY over the CORRECTED history — the
    * invariant that catches a broken retraction (double-counted
    * correction, sign error, non-associative sum). Deltas stay
    * DECIMAL(18,2) end-to-end, so the ± cancellation is exact in any
    * merge order.
    *
    * Scale shape: the change stream is three row-local projections of
    * the fact scan (no join — the correction set is a predicate here;
    * a real CDC feed arrives pre-signed), one hash agg on the group
    * key. Retractions compose with [[mvMergeBatch]]'s store unchanged:
    * a delta row IS a partial row.
    */
  def mvRetract(events: DataFrame): DataFrame =
    mvServe(retractDeltas(events)
      .groupBy("event_type", "day")
      .agg(sum(col("dn")).as("n_events"),
        sum(col("dv")).cast("decimal(18,2)").as("sum_value")))

  /** The signed change stream of [[mvRetract]]'s scenario — one delta
    * row per insert/retract/reinsert, the unit both the batch view and
    * the streaming maintainer consume (a delta row is shape-compatible
    * with an MV partial row, so the additive merge law carries over
    * with sums of signed DECIMALs). */
  private[graft] def retractDeltas(events: DataFrame): DataFrame = {
    val base = events.select(col("event_type"),
      dayofmonth(col("ts")).as("day"), col("event_id"),
      col("value").cast("decimal(18,2)").as("v"))
    val inserts = base.select(col("event_type"), col("day"),
      lit(1L).as("dn"), col("v").as("dv"))
    val corrected = base.filter(pmod(col("event_id"), lit(10L)) === 0)
    val retractions = corrected.select(col("event_type"), col("day"),
      lit(-1L).as("dn"), (-col("v")).as("dv"))
    val reinserts = corrected.select(col("event_type"), col("day"),
      lit(1L).as("dn"),
      (col("v") + lit(5.00).cast("decimal(18,2)")).as("dv"))
    inserts.unionByName(retractions).unionByName(reinserts)
  }

  /** Oracle-facing incremental-view cycle: the events table arrives as
    * three day-range batches, each merged into the MV store; the served
    * view must equal the one-shot GROUP BY over all of history — the
    * invariant that catches a broken merge law (double-counted batch,
    * lost group, non-associative sum).
    */
  def mvIncremental(spark: org.apache.spark.sql.SparkSession,
                    events: DataFrame): DataFrame = {
    val dir = TextAnalysis.newStoreDir()
    Seq((1, 10), (11, 20), (21, 31)).foreach { case (lo, hi) =>
      mvMergeBatch(events.filter(dayofmonth(col("ts")).between(lo, hi)), dir)
    }
    mvServe(spark.read.parquet(dir))
  }
}
