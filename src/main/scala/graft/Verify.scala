package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER overrides the default in-process master — the
    // multi-JVM gate: `local-cluster[n,cores,mem]` forks REAL executor
    // processes (see Run.session), so the same oracle run exercises
    // closure serialization, executor-side file access, and remote
    // block placement — the execution regime local[*] structurally
    // cannot cover.
    val spark = Run.session(sys.env.getOrElse("SPARK_GRAFT_MASTER", Run.local))
    new java.io.File(outDir).mkdirs()
    // dev-only subset knob (comma-separated names); unset → the full
    // driver contract. Lets a single query round-trip through the DuckDB
    // compare in seconds while iterating.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Run.str(k)}: ${Run.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
