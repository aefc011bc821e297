package graft.etl

import java.time.{Duration, Instant}
import scala.annotation.tailrec

/** Batch-incremental driver loop — the reference's windowed backfill and
  * watermark advance (reference `src/run.py:100-126`, `flow.py:174-198`):
  * bounded windows walk from `start` to `end`; each window's cursor
  * advances conservatively to max(event_time)+1min, or jumps to the window
  * end when the window was empty.
  *
  * `process` is the per-window pipeline (fetch → normalize → enrich →
  * upsert) returning the max event time seen, if any. Window bounds are
  * pushed-down predicates on the source scan, so each iteration reads only
  * its slice — the property that bounds memory in the reference and bounds
  * scan volume at 100 TB here.
  */
object Incremental {

  @tailrec
  def backfill(
      start: Instant,
      end: Instant,
      window: Duration = Duration.ofDays(30))(
      process: (Instant, Instant) => Option[Instant]): Unit = {
    // a non-positive window would pin winEnd = start and recurse with
    // identical arguments forever
    require(!window.isNegative && !window.isZero,
      s"backfill window must be positive, got $window")
    if (start.isBefore(end)) {
      val winEnd = Seq(start.plus(window), end).min
      val maxSeen = process(start, winEnd)
      val next = maxSeen match {
        case Some(m) =>
          val adv = m.plus(Duration.ofMinutes(1))
          // guard against a stuck cursor when max(event) <= window start
          if (adv.isAfter(start)) adv else winEnd
        case None => winEnd // empty window → jump (reference run.py:120-123)
      }
      backfill(next, end, window)(process)
    }
  }

  /** Outcome of one orchestrated incremental run: orders loaded, and the
    * re-enrich pass if one ran — (forceAll, rows touched). */
  final case class FlowRun(nOrders: Long, reEnriched: Option[(Boolean, Long)])

  /** Orchestrated incremental run with the reference's
    * re-enrich-when-idle branch (reference `flow.py:205-214`): when the
    * run finds NO new orders, a missing-category re-enrich always runs —
    * the reference spells the default as the deliberate dead flag
    * `elif re_enrich or True:`, so the `reEnrich` parameter is accepted
    * for fidelity but cannot disable the pass. `forceEnrichAll` upgrades
    * it to re-enrich every row (`force_all=True`). When new orders WERE
    * loaded, no re-enrich runs (the watermark advance is the whole
    * outcome, `flow.py:215-216`).
    *
    * `process` returns (orders loaded, max event time seen); `reEnrich0`
    * receives forceAll and returns rows touched — wire it to
    * [[Load.updateFromMap]] + the items table (the K5 operator).
    *
    * `onFailure` is the operational notification hook (reference
    * `src/etl/utils/notify.py`, see [[Notify]]): a failure anywhere in
    * the flow invokes it with the error, then rethrows. Default logs.
    */
  def runFlow(
      state: StateStore,
      now: Instant = Instant.now(),
      forceEnrichAll: Boolean = false,
      reEnrich: Boolean = false,
      onFailure: Throwable => Unit = Notify.onFailure)(
      process: String => (Long, Option[Instant]),
      reEnrich0: Boolean => Long): FlowRun =
    try {
      val since = state.sinceIso(now)
      val (nOrders, maxSeen) = process(since)
      maxSeen.foreach(state.advanceFrom)
      if (nOrders == 0L) {
        val forceAll = forceEnrichAll
        FlowRun(0L, Some((forceAll, reEnrich0(forceAll))))
      } else FlowRun(nOrders, None)
    } catch {
      case e: Throwable =>
        try onFailure(e) catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }

  private implicit val instantOrdering: Ordering[Instant] =
    Ordering.fromLessThan(_.isBefore(_))
}
