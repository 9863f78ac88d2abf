package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One page-view row (the LogSplit pageDf contract, typed). */
case class PageViewRow(mid: String, vc: String, ch: String, ar: String,
                       isNew: String, lastPageId: String, durMs: Long,
                       ts: Timestamp)

/** Page view annotated with per-mid state flags. */
case class TrafficBean(mid: String, vc: String, ch: String, ar: String,
                       isNew: String, uvCt: Long, svCt: Long, pvCt: Long,
                       durMs: Long, ts: Timestamp)

/** DwsTrafficVcChArIsNewPageViewWindow — the reference's flagship DWS
  * app (SURVEY.md §2.5 A2+A6) as one composed streaming pipeline:
  *
  *   page stream → per-mid stateful flags (uv: first view of the day,
  *   sv: session start when last_page_id is null) → 10 s tumbling
  *   window × (vc, ch, ar, is_new) → Σuv Σsv Σpv Σdur with [stt,edt).
  *
  * Reference: mapUvBean (:120-179) + keyBy (:99-106) + window/reduce
  * (:59-97). The per-mid state runs through [[Stateful.keyed]]
  * (Append-mode group state), which composes with the
  * downstream windowed aggregation — one state shuffle on mid, one agg
  * shuffle on the window keys, both keyed so they scale horizontally.
  */
object TrafficPageView {

  /** Per-mid uv/sv step: ts-ascending processing ⇒ days arrive
    * non-decreasing within the batch, so the retain window only
    * matters across batches.
    */
  private val annotateBatch: (String, Iterator[PageViewRow], Option[BoundedDays]) =>
      (Seq[TrafficBean], Option[BoundedDays]) = { (mid, rows, st0) =>
    var st = st0
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val out = rows.toSeq.sortBy(_.ts.getTime).map { r =>
      val (emit, next) = StateLogic.firstSeenStep(st, fmt.format(r.ts))
      st = Some(next)
      val uv = if (emit) 1L else 0L
      val sv = if (r.lastPageId == null) 1L else 0L
      TrafficBean(mid, r.vc, r.ch, r.ar, r.isNew, uv, sv, 1L, r.durMs, r.ts)
    }
    (out, st)
  }

  /** Per-mid uv/sv flags. State is [[BoundedDays]] (max day + ≤7-day
    * recent-set, see [[StateLogic.firstSeenStep]]) — bounded per key
    * for the stream's whole lifetime, unlike a grow-forever day set.
    */
  def annotate(pages: Dataset[PageViewRow]): Dataset[TrafficBean] = {
    import pages.sparkSession.implicits._
    Stateful.keyed(pages, (_: PageViewRow).mid, annotateBatch)
  }

  /** [[annotate]] with dormant-mid eviction (VERDICT r2 #1; see
    * Stateful.firstSeenPerDayEvicting): a mid idle for `idleTtlDays`
    * of event time is dropped from the store; a returning mid
    * re-counts one uv, the reference's own TTL semantics. Total state
    * tracks ACTIVE mids. Batch runs behave exactly like [[annotate]].
    */
  def annotateEvicting(pages: Dataset[PageViewRow], idleTtlDays: Int = 7,
                       watermarkDelay: String = "1 second"): Dataset[TrafficBean] = {
    import pages.sparkSession.implicits._
    Stateful.keyed(pages, (_: PageViewRow).mid, annotateBatch, Some(Eviction[BoundedDays](
      col("ts"), watermarkDelay, s => Stateful.dayExpiryMs(s.maxDay, idleTtlDays))))
  }

  /** Full app: annotate → windowed multi-metric aggregate. */
  def apply(pages: Dataset[PageViewRow], windowLen: String = "10 seconds",
            watermark: String = "5 seconds"): DataFrame =
    WindowedAggs.keyedWindowAgg(
      annotate(pages).toDF(), "ts", windowLen, watermark,
      Seq("vc", "ch", "ar", "isNew"),
      Seq(sum(col("uvCt")).as("uv_ct"), sum(col("svCt")).as("sv_ct"),
        sum(col("pvCt")).as("pv_ct"), sum(col("durMs")).as("dur_sum")))
}
