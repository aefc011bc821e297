package graft

import graft.plans.RewriteLongDotProduct
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[LocalSession]]: the conf `Run.main` runs with, a single install
  * of the engine's optimizer rule, and the specs' fixed 4-core session. */
class LocalSessionSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  test("the plain session carries exactly Run.main's conf") {
    val plain = LocalSession.settings(7, mirrorBench = false)
    assert(plain.map(_._1).distinct.size == plain.size, plain)
    assert(plain.toMap == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.ui.enabled" -> "false"))
  }

  test("RewriteLongDotProduct is installed once, by GraftExtensions") {
    val injected = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    val installs = injected.count(_ eq RewriteLongDotProduct) +
      spark.experimental.extraOptimizations.count(_ eq RewriteLongDotProduct)
    assert(installs == 1, s"injected=$injected extra=${spark.experimental.extraOptimizations}")
  }

  test("the test session is local[4] with 4 shuffle partitions, whatever SPARK_GRAFT_CPUS says") {
    assert(spark.sparkContext.master == "local[4]")
    for ((k, v) <- LocalSession.settings(4, mirrorBench = false))
      assert(spark.conf.get(k) == v, k)
  }
}
