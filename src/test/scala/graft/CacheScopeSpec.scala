package graft

/** The r18 narrow-cache scope, applied through [[Width.scoped]]:
  * operators whose caches are list-sized opt in to AQE replanning of
  * cached subtrees for exactly the region that materializes them. The
  * scope must be leak-proof — a leaked `true` would let AQE coalesce a
  * compute-dense cache elsewhere (measured 2-3x regressions on the
  * skew/rerank paths when the flag was session-global), and a leaked
  * shuffle width would resize every later query — so restoration is
  * load-bearing, not hygiene.
  */
class CacheScopeSpec extends SparkSpec {

  private val key =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  private val width = "spark.sql.shuffle.partitions"

  test("Width.scoped sets the narrow-cache flag inside and restores it after") {
    val before = spark.conf.get(key)
    val seen = Width.scoped(spark, Width.NarrowCachedPlans) {
      spark.conf.get(key)
    }
    assert(seen == "true")
    assert(spark.conf.get(key) == before)
  }

  test("Width.scoped restores every key when the body throws") {
    val before = (spark.conf.get(key), spark.conf.get(width))
    intercept[RuntimeException] {
      Width.scoped(spark, Width.NarrowCachedPlans, Width.shuffle(17)) {
        assert(spark.conf.get(key) == "true")
        assert(spark.conf.get(width) == "17")
        throw new RuntimeException("boom")
      }
    }
    assert((spark.conf.get(key), spark.conf.get(width)) == before)
  }

  test("narrow-cache scope does not perturb a cached aggregation's values") {
    import org.apache.spark.sql.functions._
    val base = spark.range(1000)
      .select(col("id"), (col("id") % 7).as("k"))
    def census(): Seq[(Long, Long)] = {
      val c = base.groupBy("k").agg(count(lit(1)).as("n")).persist()
      try c.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally { c.unpersist(blocking = true); () }
    }
    val plain = census()
    val narrow = Width.scoped(spark, Width.NarrowCachedPlans) { census() }
    assert(plain == narrow)
  }
}
