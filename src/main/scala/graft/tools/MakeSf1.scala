package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: materialize a 10×-amplified warehouse (sf0.1 → "sf1") for
  * the one-decade scale anchor — `runMain graft.tools.MakeSf1
  * <srcSfDir> <outDir> [factor]`. A scale point is this, then Bench on
  * the result (`SPARK_GRAFT_SF_DIR=<outDir>`), whose work ledger records
  * each query's counters at that scale.
  *
  * Amplification follows the driver's own scaling shape (TESTDATA.md:
  * row counts scale linearly with sf; tiny dims stay tiny;
  * events-per-user stays ~constant, so USERS scale): each replica k
  * shifts every surrogate key by k·(max+1) — orders/lineitem shift
  * o_orderkey together and customer/part/supplier FKs consistently, so
  * referential integrity holds at the amplified scale; events shift
  * (event_id, user_id) pairs; documents rotate their text per replica
  * (replicas are near- but not exact dups, so dedup operators see
  * realistic work); embeddings shift vec_id.
  * region/nation are fixed-size dimensions at every sf and are copied.
  * Timing-focused: values repeat across replicas (fine for plan-shape
  * and throughput anchors; NOT a correctness corpus — the DuckDB gate
  * stays on the driver's sf0.01).
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Run.session()

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L

    def amplify(df: DataFrame, shifts: Map[String, Long],
                rotateText: Boolean = false): DataFrame =
      (0 until factor).map { k =>
        val shifted = shifts.foldLeft(df) { case (d, (c, m)) =>
          d.withColumn(c, col(c) + lit(k * m))
        }
        if (rotateText && k > 0)
          shifted.withColumn("text",
            concat(substring(col("text"), k * 7 + 1, 1000000),
              lit(" "), substring(col("text"), 1, k * 7)))
        else shifted
      }.reduce(_ unionByName _)

    val orders = graft.Tables.orders(spark, src)
    val lineitem = graft.Tables.lineitem(spark, src)
    val customer = graft.Tables.customer(spark, src)
    val supplier = graft.Tables.supplier(spark, src)
    val part = graft.Tables.part(spark, src)
    val events = graft.Tables.events(spark, src)
    val documents = graft.Tables.documents(spark, src)
    val embeddings = graft.Tables.embeddings(spark, src)

    val (mOrd, mCust, mSupp, mPart) = (maxOf(orders, "o_orderkey"),
      maxOf(customer, "c_custkey"), maxOf(supplier, "s_suppkey"),
      maxOf(part, "p_partkey"))
    val (mEvt, mUsr) = (maxOf(events, "event_id"), maxOf(events, "user_id"))
    val (mDoc, mVec) = (maxOf(documents, "doc_id"),
      maxOf(embeddings, "vec_id"))

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // fixed-size dims: copied (their cardinality is sf-independent)
    write("region", graft.Tables.region(spark, src))
    write("nation", graft.Tables.nation(spark, src))
    write("customer", amplify(customer, Map("c_custkey" -> mCust)))
    write("supplier", amplify(supplier, Map("s_suppkey" -> mSupp)))
    write("part", amplify(part, Map("p_partkey" -> mPart)))
    write("orders", amplify(orders,
      Map("o_orderkey" -> mOrd, "o_custkey" -> mCust)))
    write("lineitem", amplify(lineitem,
      Map("l_orderkey" -> mOrd, "l_partkey" -> mPart, "l_suppkey" -> mSupp)))
    // ts back to TIMESTAMP_NTZ µs — the driver's stored representation,
    // which the streaming rawSchema pins (Tables.events casts on read)
    write("events", amplify(events,
      Map("event_id" -> mEvt, "user_id" -> mUsr))
      .withColumn("ts", col("ts").cast("timestamp_ntz")))
    write("documents", amplify(documents, Map("doc_id" -> mDoc),
      rotateText = true))
    write("embeddings", amplify(embeddings, Map("vec_id" -> mVec)))
    spark.stop()
  }
}
