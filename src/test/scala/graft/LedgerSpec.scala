package graft

import java.nio.file.Files

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

      // a stateful drain: one durationMs split and state rows per drain
      val dir = Files.createTempDirectory("ledger_spec")
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
