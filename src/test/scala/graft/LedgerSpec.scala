package graft

import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.Trigger

class LedgerSpec extends SparkSpec {

  test("a tagged run's jobs, tasks, bytes, planning time, width decisions " +
       "and stream drains are filed under its tag, and a rerun replaces them") {
    val ledger = Ledger.attach(spark)
    try {
      spark.range(10).count() // untagged: filed under no tag
      ledger("t") {
        Width.of("ledger", spark.range(1000).toDF())
        spark.range(0, 1000, 1, 4).repartition(2).count()
      }
      val w = ledger.work("t")
      assert(w.jobs >= 1 && w.stages >= 2 && w.tasks >= 6)
      assert(w.shuffleWriteBytes > 0 && w.shuffleReadBytes > 0)
      assert(w.widths.map(d => (d.site, d.width)) === Seq("ledger" -> "1"))
      assert(w.longestJobSite.nonEmpty && w.longestStageTasks > 0)
      assert(w.drains.isEmpty)
      ledger.storageAfter("t")
      assert(ledger.work("t").storageAfterBytes >= 0)

      // AQE runs an aggregate's map stage as its own job, submitted from
      // one of Spark's async threads; a slow grouping key makes it the
      // longest job, named after the query's own action
      val slowKey = udf { (k: Long) => Thread.sleep(100); k % 2 }
      ledger("aqe") {
        spark.range(0, 8, 1, 4).groupBy(slowKey(col("id"))).count().collect()
      }
      val site = ledger.work("aqe").longestJobSite
      assert(site.contains("LedgerSpec") && !site.contains("CompletableFuture"), site)

      // the same plan, built and run twice: the second run's generated
      // code is all cache hits (a fresh multiplier makes the first run
      // compile its own)
      val k = System.nanoTime() % 1000000 + 2
      def plan = spark.range(0, 1000, 1, 2).selectExpr(s"id * $k as x")
        .filter("x % 7 = 1").groupBy((col("x") % 3).as("g")).count()
      ledger("cg1")(plan.collect())
      ledger("cg2")(plan.collect())
      assert(ledger.work("cg1").codegenCompiles > 0)
      assert(ledger.work("cg2").codegenCompiles === 0L)
      assert(ledger.work("cg2").toJson.contains("\"codegen_compiles\":0,"))

      // a stateful drain: one durationMs split and state rows per drain
      val dir = Scratch.dir("ledger_spec")
      spark.range(100).selectExpr("id % 10 as k").write.parquet(s"$dir/in")
      ledger("t") {
        spark.readStream.schema("k long").parquet(s"$dir/in").dropDuplicates("k")
          .writeStream.format("noop").option("checkpointLocation", s"$dir/ck")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      val s = ledger.work("t")
      assert(s.widths.isEmpty, "the rerun replaced the first entry")
      assert(s.jobs >= 1 && s.drains.size === 1)
      val json = s.toJson
      assert(json.contains("\"addBatch\":") && json.contains("\"state_rows\":10.000"), json)
    } finally ledger.close()
  }
}
