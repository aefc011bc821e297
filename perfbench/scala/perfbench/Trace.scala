package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Span recorder for the traced run. A span covers one public call into
  * one layer; spans nest (an upsert inside `processRawOrders`), and every
  * span's exclusive time is its wall time minus its children's.
  *
  * Spark work is attributed by time: a job belongs to the innermost span
  * that was open when the job was submitted, and a query execution's
  * Catalyst phases (analysis, optimization, planning) belong to the span
  * open when they started. Everything stays in memory until the op is
  * summarized; nothing is written while an op runs.
  *
  * Install with [[attach]] before a traced op and remove with [[detach]]
  * after it, so untraced ops pay no listener cost.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private final case class Job(id: Int, submitMs: Long, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private final case class StageCost(taskMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, output: Long)
  final case class Span(layer: String, parent: Int, startMs: Long, startNs: Long) {
    var endMs: Long = Long.MaxValue
    var endNs: Long = -1L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, StageCost]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, phase ms)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var open = List.empty[Int]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Time `f` as one call into `layer`. */
  def span[A](layer: String)(f: => A): A = {
    val s = Span(layer, open.headOption.getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans.synchronized { spans += s }
    open = (spans.size - 1) :: open
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Add `n` to a per-op counter reported next to the span metrics. */
  def count(key: String, n: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + n

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages(e.stageInfo.stageId) = StageCost(
      m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten)
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Innermost span open at wall-clock `ms`, or -1. */
  private def spanAt(ms: Long): Int = {
    var best = -1
    var i = 0
    while (i < spans.size) {
      val s = spans(i)
      if (s.startMs <= ms && ms <= s.endMs) best = i
      i += 1
    }
    best
  }

  /** Summarize the op that the spans recorded since the last call cover:
    * per-layer exclusive seconds, jobs, task time, shuffle/spill/output
    * bytes and plan seconds, plus op-level job busy time and driver gap.
    * Call after the op's jobs drained and the listener bus is empty. */
  def summarize(opWallS: Double): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = out(k) = out(k) + v
    val childNs = Array.fill(spans.size)(0L)
    spans.zipWithIndex.foreach { case (s, _) =>
      if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs
    }
    spans.zipWithIndex.foreach { case (s, i) =>
      add(s"${s.layer}.s", (s.endNs - s.startNs - childNs(i)) / 1e9)
    }
    val opStart = spans.headOption.map(_.startMs).getOrElse(0L)
    val opEnd = spans.headOption.map(_.endMs).getOrElse(0L)
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    jobs.foreach { j =>
      val at = spanAt(j.submitMs)
      val layer = if (at >= 0) spans(at).layer else "unattributed"
      add(s"$layer.jobs", 1)
      add("spark.jobs", 1)
      val end = if (j.endMs < 0) opEnd else j.endMs
      intervals += ((math.max(j.submitMs, opStart), math.min(end, opEnd)))
      j.stages.flatMap(stages.get).foreach { c =>
        add("spark.task_s", c.taskMs / 1e3)
        add("spark.shuffle_read_bytes", c.shuffleRead)
        add("spark.shuffle_write_bytes", c.shuffleWrite)
        add("spark.spill_bytes", c.spill)
        add(s"$layer.output_bytes", c.output)
      }
    }
    plans.foreach { case (startMs, phaseMs) =>
      val at = spanAt(startMs)
      if (at >= 0) add("plans.plan_s", phaseMs / 1e3)
    }
    val busyMs = union(intervals.toSeq)
    add("spark.job_busy_s", busyMs / 1e3)
    add("spark.driver_gap_s", math.max(0.0, opWallS - busyMs / 1e3))
    counters.foreach { case (k, v) => add(k, v) }
    jobs.clear(); stages.clear(); plans.clear(); counters.clear()
    spans.synchronized { spans.clear() }
    out.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
