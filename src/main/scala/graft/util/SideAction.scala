package graft.util

import org.apache.spark.sql.SparkSession

/** Overlapping two independent Spark actions: `side` runs on
  * its own thread while `main` runs on the caller's, so one action's jobs
  * back-fill the other's stragglers and driver gaps.
  *
  * The side thread is created by the caller for this call only, so it
  * starts with a copy of the caller's Spark local properties (its job
  * group, description and scheduler pool): its jobs are attributed,
  * cancelled and scheduled like the caller's. The SQL execution ids are
  * cleared: a side action inside a running query would otherwise be
  * folded into that query's execution. (A pooled worker —
  * `ExecutionContext.global` — keeps the properties of whichever thread
  * created it, and runs later side actions under that stale job group,
  * or none.)
  *
  * If `main` throws, the side action's jobs are cancelled and its thread
  * joined before the error propagates, so no side job outlives the call.
  * If only `side` throws, its error propagates after `main` completes. */
object SideAction {
  private val dropped = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")

  def alongside[S, M](spark: SparkSession)(side: => S)(main: => M): (S, M) = {
    val sc = spark.sparkContext
    val tag = s"graft-side-${java.util.UUID.randomUUID()}"
    @volatile var result: scala.util.Try[S] = null
    val t = new Thread(() => {
      dropped.foreach(sc.setLocalProperty(_, null))
      sc.addJobTag(tag)
      result =
        try scala.util.Success(side)
        catch { case e: Throwable => scala.util.Failure(e) }
    }, "graft-side-action")
    t.setDaemon(true)
    t.start()
    val m =
      try main
      catch { case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        t.join()
        throw e
      }
    t.join()
    (result.get, m)
  }
}
