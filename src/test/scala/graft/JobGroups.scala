package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** Records the job group of every job started, and every job ended,
  * while it is installed on `sc`. */
final class JobGroups(sc: SparkContext) extends SparkListener {
  private val startedQ = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
  private val endedSet = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    startedQ.add((e.jobId,
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedSet.add(e.jobId)

  /** (job id, job group) in start order; the group is null for none. */
  def started: Seq[(Int, String)] = startedQ.asScala.toSeq
  def ended(id: Int): Boolean = endedSet.contains(id)

  /** Runs a one-task job under `group` and waits until it was seen: job
    * ids are assigned in submission order and the listener bus delivers
    * in order, so every earlier job start has been seen too. Returns the
    * marker's job id. */
  def marker(group: String): Int = {
    sc.setJobGroup(group, group)
    sc.parallelize(Seq(1), 1).count()
    awaitTrue(started.exists(_._2 == group), s"marker job $group never reached the listener")
    started.find(_._2 == group).get._1
  }

  /** Polls `cond` for up to 30 s. */
  def awaitTrue(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    if (!cond) throw new AssertionError(what)
  }

  def remove(): Unit = sc.removeSparkListener(this)
}
