package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink format coverage beyond the parquet warehouse and the JSON
  * landing: CSV (the interchange format warehouse exports actually use)
  * and ORC (the other mainstream columnar format) — each proven by a
  * write→read round-trip whose aggregate is oracle-checked against the
  * original table.
  *
  * Same read discipline as the landing path: explicit schema on read-back
  * (no inference pass), timestamps carried as unix micros in CSV (CSV has
  * no timestamp type — the column crosses as a number, the reader
  * restores it).
  */
object Formats {

  /** SCHEMA EVOLUTION read: two parquet generations of the events feed —
    * v1 without the `value` column, v2 with it — merged into one frame
    * via mergeSchema (v1 rows surface a null `value`), then a per-type
    * census proving which generation each row came from. The
    * add-a-column-without-rewriting-history migration every long-lived
    * warehouse performs; at scale mergeSchema costs one footer read per
    * file, not a data pass.
    */
  def schemaEvolutionCensus(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val dir = graft.Scratch.dir("fmt_schevo")
    val ev = events.select(col("event_id"), col("event_type"), col("value"))
    ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .select("event_id", "event_type")
      .repartition(col("event_id")).write.parquet(s"$dir/v1")
    ev.filter(pmod(col("event_id"), lit(2)) =!= 0)
      .repartition(col("event_id")).write.parquet(s"$dir/v2")
    spark.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           count(col("value")).as("n_with_value"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** CSV round-trip: events → headered CSV (ts as micros) → typed read →
    * per-type aggregate.
    */
  def csvRoundtrip(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val dir = graft.Scratch.dir("fmt_csv")
    val out = events.select(
      col("event_id"), unix_micros(col("ts")).as("us"),
      col("user_id"), col("event_type"), col("value"))
    // the single-file events scan is one input split — repartition so the
    // CSV serialization runs on all cores instead of one writer task
    out.repartition(col("event_id")).write.option("header", "true").csv(dir)
    val schema = StructType(out.schema.fields)
    spark.read.option("header", "true").schema(schema).csv(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("event_id")).as("n_ids"),
           min(col("us")).as("first_us"), max(col("us")).as("last_us"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** XML round-trip (Spark 4's BUILT-IN xml source — the spark-xml
    * donation): events → <event> row elements under one root → typed
    * read with rowTag → the same per-type census as [[csvRoundtrip]],
    * so the two share an oracle. Doubles cross as shortest-form text
    * and parse back exactly (the CSV device); ts crosses as unix
    * micros because XML, like CSV, has no timestamp type.
    */
  def xmlRoundtrip(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val dir = graft.Scratch.dir("fmt_xml")
    val out = events.select(
      col("event_id"), unix_micros(col("ts")).as("us"),
      col("user_id"), col("event_type"), col("value"))
    out.repartition(col("event_id")).write.format("xml")
      .option("rootTag", "events").option("rowTag", "event").save(dir)
    val schema = StructType(out.schema.fields)
    spark.read.format("xml").option("rowTag", "event").schema(schema)
      .load(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("event_id")).as("n_ids"),
           min(col("us")).as("first_us"), max(col("us")).as("last_us"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** ORC round-trip: native types survive, partitioned by event_type so
    * the read-back scan prunes like any columnar warehouse table.
    */
  def orcRoundtrip(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val dir = graft.Scratch.dir("fmt_orc")
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartition(col("event_type"))
      .write.partitionBy("event_type").orc(dir)
    spark.read.orc(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           min(unix_micros(col("ts"))).as("first_us"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }
}
