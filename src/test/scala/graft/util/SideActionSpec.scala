package graft.util

import graft.{JobGroups, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** An action overlapped on another thread is cancelled when the caller's
  * side fails. (RegimeSpec's x43 case pins that it keeps the caller's job
  * group.) */
class SideActionSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sc = spark.sparkContext

  test("a failing main side cancels the side action's jobs before the error propagates") {
    val jobs = new JobGroups(sc)
    sc.setJobGroup("side-cancel", "side action cancelled by a failing main")
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        SideAction.alongside(spark) {
          // ~20 s unless cancelled: 400 elements x 50 ms per task, and
          // a killed task stops at its next element
          sc.parallelize(1 to 1600, 4).map { x => Thread.sleep(50); x }.count()
        } {
          jobs.awaitTrue(jobs.started.exists(_._2 == "side-cancel"), "the side job never started")
          throw new IllegalStateException("main failed")
        }
      }
      assert(e.getMessage == "main failed")
      assert((System.nanoTime() - t0) / 1e9 < 10, "the side action ran to completion")
      val side = jobs.started.filter(_._2 == "side-cancel").map(_._1)
      jobs.awaitTrue(side.forall(jobs.ended), "a side job never ended")
    } finally {
      sc.clearJobGroup()
      jobs.remove()
    }
  }
}
