package graft.streaming

import java.time.LocalDate
import graft.model.{VisitorHit, VisitorHitFixed}

/** Bounded per-key day state: the max day ever seen plus the set of
  * days within `retainDays` of it. Total size ≤ retainDays entries per
  * key, independent of stream lifetime — the property that lets the A6
  * family run for years at 100 TB (a RocksDB store holds
  * O(keys × retainDays), not O(keys × days-of-history)).
  *
  * Days that arrive more than `retainDays` behind the max are treated
  * as already seen and dropped — the watermark contract. The reference
  * instead expires its ValueState after 1 day
  * (DwsTrafficVcChArIsNewPageViewWindow.java:133-136), which
  * RE-COUNTS a returning key after expiry; we keep the max day
  * forever (one string) so a key is never double-counted, and bound
  * only the out-of-order tolerance window.
  */
case class BoundedDays(maxDay: String, recent: Set[String])

/** is_new repair state (A8): the visitor's first-seen day ("" marks a
  * visitor known to predate the pipeline) and the newest day seen, the
  * idle clock of the evicting variant.
  */
case class VisitorDays(firstDay: String, lastDay: String)

/** Pure state transitions for the stateful family — the steps that
  * [[Stateful.keyed]] runs per key and batch, kept free of Spark so
  * properties (state bound, exactness, replay monotonicity) are
  * testable without a Spark job.
  */
object StateLogic {

  /** Default out-of-order tolerance (days behind the max still
    * deduplicated exactly rather than dropped).
    */
  val DefaultRetainDays = 7

  private def minusDays(day: String, n: Int): String =
    LocalDate.parse(day).minusDays(n.toLong).toString

  /** One first-seen-per-day step. Returns (emit, nextState):
    * emit=true iff `day` is new for this key and within the retain
    * window. State stays ≤ retainDays entries (maxDay + recent days
    * strictly inside (maxDay − retainDays, maxDay)).
    */
  def firstSeenStep(st: Option[BoundedDays], day: String,
                    retainDays: Int = DefaultRetainDays): (Boolean, BoundedDays) =
    st match {
      case None => (true, BoundedDays(day, Set.empty))
      case Some(BoundedDays(maxDay, recent)) =>
        if (day > maxDay) {
          val cutoff = minusDays(day, retainDays)
          (true, BoundedDays(day, (recent + maxDay).filter(_ > cutoff)))
        } else if (day == maxDay || recent.contains(day)) {
          (false, BoundedDays(maxDay, recent))
        } else if (day > minusDays(maxDay, retainDays)) {
          (true, BoundedDays(maxDay, recent + day))
        } else {
          // older than the retain window: treat as seen (late-data drop)
          (false, BoundedDays(maxDay, recent))
        }
    }

  /** Dormant-key eviction model (VERDICT r2 #1): a key whose newest
    * activity (`maxDay`) has fallen `idleDays` or more behind the
    * stream's watermark day is EVICTED — its state becomes None, so a
    * returning key re-counts exactly like the reference's 1-day
    * StateTtlConfig (DwsTrafficVcChArIsNewPageViewWindow.java:133-136).
    * This trades bounded re-counts for total state that tracks ACTIVE
    * keys (keys seen within the TTL window) instead of all-time key
    * cardinality — the difference between O(daily actives) and
    * O(years of visitors) state at 100 TB. The Spark-side enforcement
    * is the event-time timeout of [[Stateful.keyed]], which every
    * `*Evicting` operator runs through; this pure form is what the
    * properties replay.
    */
  def expireIfIdle(st: Option[BoundedDays], watermarkDay: String,
                   idleDays: Int): Option[BoundedDays] =
    st.filter(_.maxDay > minusDays(watermarkDay, idleDays))

  /** One is_new repair batch for a visitor (rules at
    * [[Stateful.isNewFix]]), in day order so batch runs are
    * deterministic. A visitor first seen with is_new=0 predates the
    * pipeline: its first-seen day is recorded as "", before any day.
    */
  def isNewFixStep(mid: String, rows: Iterator[VisitorHit],
                   st: Option[VisitorDays])
      : (Seq[VisitorHitFixed], Option[VisitorDays]) = {
    val sorted = rows.toSeq.sortBy(_.day)
    var firstDay = st.map(_.firstDay).orNull
    val out = sorted.map { h =>
      val fixed =
        if (h.isNew == "1") {
          if (firstDay == null) { firstDay = h.day; "1" }
          else if (firstDay == h.day) "1"
          else "0"
        } else {
          if (firstDay == null) firstDay = ""
          "0"
        }
      VisitorHitFixed(mid, h.day, fixed)
    }
    val lastDay = (st.map(_.lastDay) ++ sorted.lastOption.map(_.day)).max
    (out, Some(VisitorDays(firstDay, lastDay)))
  }

  /** One upsert-correction batch for a key (A7,
    * DwsTradeSkuOrderWindow.processBeanStream :158-201). State is the
    * (ts, amount) of the newest version. Versions run in (ts, amount)
    * order, so same-ts versions resolve the same way whatever order
    * the group iterator yields them in; each version at or after the
    * stored ts emits `delta(v, amount − last)`, so downstream sums
    * telescope to the newest amount. Older versions are stale and
    * dropped.
    */
  def upsertStep[R, O](rows: Iterator[R], st: Option[(Long, Long)])
                      (ts: R => Long, amount: R => Long)
                      (delta: (R, Long) => O): (Seq[O], Option[(Long, Long)]) = {
    var (lastTs, lastAmt) = st.getOrElse((Long.MinValue, 0L))
    val out = rows.toSeq.sortBy(v => (ts(v), amount(v))).flatMap { v =>
      if (ts(v) >= lastTs) {
        val d = delta(v, amount(v) - lastAmt)
        lastTs = ts(v); lastAmt = amount(v)
        Some(d)
      } else None // stale out-of-order version: ignore
    }
    (out, Some((lastTs, lastAmt)))
  }

  /** One login-window step (DwsUserUserLoginWindow semantics with the
    * reorder guard): emit uu only when `day` strictly advances past
    * the stored last day, so a replayed or out-of-order older day can
    * neither re-emit nor regress the state. Returns
    * (emitUu, backFlow, nextLastDay).
    */
  def loginStep(lastDay: Option[String], day: String,
                gapDays: Int): (Boolean, Boolean, String) =
    lastDay match {
      case None => (true, false, day)
      case Some(last) if day > last =>
        val gap = java.time.temporal.ChronoUnit.DAYS.between(
          LocalDate.parse(last), LocalDate.parse(day))
        (true, gap > gapDays, day)
      case Some(last) => (false, false, last) // same or older day: no-op
    }
}
