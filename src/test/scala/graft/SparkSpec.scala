package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the suite (one JVM-wide session — Spark
  * sessions are expensive; tests only read/transform, never mutate shared
  * state other than uniquely-named temp dirs).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  lazy val warehouse: String = Scratch.dir("warehouse")
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001

  /** A fresh, created scratch dir, removed when the test JVM exits. */
  def tempDir(name: String): String =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(Scratch.dir(s"test_$name"))).toString
}
