package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.Landing

/** Landing-pipeline properties promised in SURVEY §5: partition-key
  * totality over arbitrary timestamps, and idempotence of the landing
  * write itself.
  */
class LandingSpec extends SparkSpec {

  test("partition key derivation is total over arbitrary timestamps (property)") {
    val sp = spark
    import sp.implicits._
    // micros across 1900-2100 — far beyond any event-time the pipeline sees
    val usGen = Gen.choose(-2208988800000000L, 4102444800000000L)
    val prop = Prop.forAll(Gen.listOfN(200, usGen)) { usList =>
      val df = Landing.withTimeBuckets(
        usList.toDF("us").withColumn("ts", timestamp_micros($"us")), col("ts"))
      val rows = df.select("y", "m", "d", "h").collect()
      rows.length == usList.length && rows.forall { r =>
        !r.anyNull &&
        r.getInt(0) >= 1900 && r.getInt(0) <= 2100 &&
        r.getInt(1) >= 1 && r.getInt(1) <= 12 &&
        r.getInt(2) >= 1 && r.getInt(2) <= 31 &&
        r.getInt(3) >= 0 && r.getInt(3) <= 23
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("upsert replaces corrected rows in touched partitions only, idempotently") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    val day1 = 1700000000000L - (1700000000000L % 86400000L)
    def ts(day: Int, hr: Int) = new Timestamp(day1 + day * 86400000L + hr * 3600000L)
    val base = Scratch.dir("test_upsert")
    // two days, three events each
    val ev = Seq(
      (1L, 10L, "view", ts(0, 1), 1.0, 0), (2L, 11L, "view", ts(0, 2), 2.0, 0),
      (3L, 12L, "click", ts(0, 3), 3.0, 0), (4L, 10L, "view", ts(1, 1), 4.0, 0),
      (5L, 11L, "click", ts(1, 2), 5.0, 0), (6L, 12L, "view", ts(1, 3), 6.0, 0))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "corrected")
    Landing.withTimeBuckets(ev, col("ts"))
      .repartition(col("y"), col("m"), col("d"))
      .write.mode("overwrite").partitionBy("y", "m", "d").parquet(base)
    def day2Files() = {
      val d = new java.io.File(base).listFiles()
        .filter(_.getName.startsWith("y=")).flatMap(_.listFiles())
        .flatMap(_.listFiles()).filter(f => f.getName == s"d=${ts(1, 0).toLocalDateTime.getDayOfMonth}")
      d.flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toSeq.sortBy(_._1)
    }
    val before = day2Files()
    assert(before.nonEmpty)
    // correction touches only day 1 (event 2's value revised)
    val correction = Seq((2L, 11L, "view", ts(0, 2), 999.0, 1))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "corrected")
    graft.streaming.StreamOps.upsertBatch(correction, base)
    val after1 = spark.read.parquet(base).orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"),
                 r.getAs[Int]("corrected"))).toSeq
    // replaced, not appended; other rows intact
    assert(after1 === Seq((1L, 1.0, 0), (2L, 999.0, 1), (3L, 3.0, 0),
      (4L, 4.0, 0), (5L, 5.0, 0), (6L, 6.0, 0)))
    // the untouched day-2 partition kept its exact files (dynamic
    // overwrite never read or wrote it)
    assert(day2Files() === before, "untouched partition was rewritten")
    // crash-replay of the same batch converges to the same state
    graft.streaming.StreamOps.upsertBatch(correction, base)
    val after2 = spark.read.parquet(base).orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"),
                 r.getAs[Int]("corrected"))).toSeq
    assert(after2 === after1, "replayed upsert batch diverged")
  }

  test("upsert evicts the stale original when a correction moves an event across days") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    val day1 = 1700000000000L - (1700000000000L % 86400000L)
    def ts(day: Int, hr: Int) = new Timestamp(day1 + day * 86400000L + hr * 3600000L)
    val base = Scratch.dir("test_upsert_move")
    val ev = Seq(
      (1L, 10L, "view", ts(0, 1), 1.0, 0), (2L, 11L, "view", ts(0, 2), 2.0, 0),
      (3L, 12L, "click", ts(1, 3), 3.0, 0))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "corrected")
    Landing.withTimeBuckets(ev, col("ts"))
      .repartition(col("y"), col("m"), col("d"))
      .write.mode("overwrite").partitionBy("y", "m", "d").parquet(base)
    // event 2's corrected timestamp lands on day 2 — the day-0 original
    // must disappear, not survive as a duplicate event_id
    val correction = Seq((2L, 11L, "view", ts(2, 5), 999.0, 1))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "corrected")
    graft.streaming.StreamOps.upsertBatch(correction, base)
    val after = spark.read.parquet(base).orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"),
                 r.getAs[Int]("corrected"), r.getAs[Int]("d"))).toSeq
    assert(after.map(_._1) === Seq(1L, 2L, 3L), s"duplicate or lost event_id: $after")
    val moved = after.find(_._1 == 2L).get
    assert(moved._2 === 999.0 && moved._3 === 1)
    assert(moved._4 === ts(2, 0).toLocalDateTime.getDayOfMonth,
      s"corrected event 2 should live on its new day, got $moved")
    // replay converges (idempotence survives the cross-day path)
    graft.streaming.StreamOps.upsertBatch(correction, base)
    val after2 = spark.read.parquet(base).orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"),
                 r.getAs[Int]("corrected"), r.getAs[Int]("d"))).toSeq
    assert(after2 === after, "replayed cross-day upsert diverged")
  }

  test("upsert drops a day partition left EMPTY by a cross-day correction") {
    val sp = spark
    import sp.implicits._
    import java.sql.Timestamp
    val day1 = 1700000000000L - (1700000000000L % 86400000L)
    def ts(day: Int, hr: Int) = new Timestamp(day1 + day * 86400000L + hr * 3600000L)
    val base = Scratch.dir("test_upsert_empty")
    // day 0 holds ONLY event 1 — its correction empties that day, the
    // case dynamic partition overwrite cannot express (no rows to carry)
    val ev = Seq(
      (1L, 10L, "view", ts(0, 1), 1.0, 0), (2L, 11L, "click", ts(1, 2), 2.0, 0))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "corrected")
    Landing.withTimeBuckets(ev, col("ts"))
      .repartition(col("y"), col("m"), col("d"))
      .write.mode("overwrite").partitionBy("y", "m", "d").parquet(base)
    val correction = Seq((1L, 10L, "view", ts(2, 5), 999.0, 1))
      .toDF("event_id", "user_id", "event_type", "ts", "value", "corrected")
    graft.streaming.StreamOps.upsertBatch(correction, base)
    val after = spark.read.parquet(base).orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"),
                 r.getAs[Int]("corrected"), r.getAs[Int]("d"))).toSeq
    assert(after.map(_._1) === Seq(1L, 2L),
      s"stale original survived in the emptied day: $after")
    val moved = after.find(_._1 == 1L).get
    assert(moved._2 === 999.0 && moved._3 === 1)
    val day0 = ts(0, 0).toLocalDateTime
    assert(!new java.io.File(
        s"$base/y=${day0.getYear}/m=${day0.getMonthValue}/d=${day0.getDayOfMonth}")
      .exists(), "emptied day directory was not dropped")
    // replay converges: the emptied-day cleanup is idempotent too
    graft.streaming.StreamOps.upsertBatch(correction, base)
    val after2 = spark.read.parquet(base).orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value"),
                 r.getAs[Int]("corrected"), r.getAs[Int]("d"))).toSeq
    assert(after2 === after, "replayed emptied-day upsert diverged")
  }

  test("forgetUsers erases victims, preserves bystanders, drops emptied buckets") {
    val sp = spark
    import sp.implicits._
    // users 0..3 into 4 buckets (bkt = user_id mod 4); victimMod 2
    // erases users 0 and 2 — buckets 0 and 2 become EMPTY and their
    // directories must be dropped, buckets 1 and 3 must be untouched
    val ev = (1L to 40L).map(i => (i, i % 4, if (i % 2 == 0) "view" else "buy"))
      .toDF("event_id", "user_id", "event_type")
    val base = Scratch.dir("test_forget")
    try {
      val census = graft.operators.Landing
        .forgetUsersAt(ev, 2L, 4, base)
        .collect().map(r => (r.getAs[String]("event_type"),
          r.getAs[Long]("n_before"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_after"))).toSeq
      // user parity == event parity here (event_id i has user i%4), so
      // victims (even users) are exactly the "view" rows
      assert(census === Seq(("buy", 20L, 0L, 20L), ("view", 20L, 20L, 0L)))
      assert(!new java.io.File(s"$base/bkt=0").exists(),
        "emptied bucket 0 directory survived")
      assert(!new java.io.File(s"$base/bkt=2").exists(),
        "emptied bucket 2 directory survived")
      assert(new java.io.File(s"$base/bkt=1").exists() &&
        new java.io.File(s"$base/bkt=3").exists(),
        "untouched buckets must remain")
      val left = spark.read.parquet(base)
      assert(left.filter(pmod(col("user_id"), lit(2L)) === 0).count() === 0L,
        "a victim row survived the erasure")
      assert(left.count() === 20L, "a bystander row was lost")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("landing twice yields identical partition counts (idempotence)") {
    val out = Scratch.dir("test_land_idem")
    val ev = Tables.events(spark, sf0001)
    val a = Landing.landPartitionedJson(ev, col("ts"), Seq("event_id"), out)
      .orderBy("y", "m", "d", "h").collect().toSeq
    val b = Landing.landPartitionedJson(ev, col("ts"), Seq("event_id"), out)
      .orderBy("y", "m", "d", "h").collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }
}
