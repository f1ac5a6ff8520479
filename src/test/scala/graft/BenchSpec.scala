package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench times one form per query, and the outlier re-measure times the
  * same one. Runs no Spark job. */
class BenchSpec extends AnyFunSuite {

  test("formOf is the production form for every benchForms query") {
    assert(SparkEntry.benchForms.nonEmpty)
    SparkEntry.benchForms.foreach { case (name, form) =>
      assert(Bench.formOf(name) eq form, name)
    }
  }
}
