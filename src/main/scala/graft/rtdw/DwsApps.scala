package graft.rtdw

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.{Eviction, StateLogic, Stateful, WindowedAggs}

/** Order-detail version carrying its dimension key (A7 state bean). */
case class SkuAmount(id: String, skuId: String, ts: Long, amountCents: Long)
case class SkuAmountDelta(skuId: String, ts: Long, deltaCents: Long)

/** Login event for the user-login DWS app (A6 family). */
case class LoginEvent(uid: String, day: String, ts: Timestamp)
case class LoginFlags(uid: String, uuCt: Long, backCt: Long, ts: Timestamp)

/** One order-detail row assigned to its tumbling window (exact
  * province-window distinct path).
  */
case class ProvinceWindowEvent(provinceId: String, ws: Timestamp, we: Timestamp,
                               orderId: String, amountCents: Long,
                               et: Timestamp) // watermarked event time — must
                               // survive into the stateful op's input for
                               // EventTimeTimeout to see a watermark

/** Per-(province, window) running state: the reference's exact
  * orderIdSet (DwsTradeProvinceOrderWindow.java:117-145) + amount sum.
  * Bounded by the window's own order count and evicted when the
  * watermark closes the window — never all-time state.
  */
case class ProvinceWindowState(windowEndMs: Long, orderIds: Set[String],
                               amountCents: Long)

/** Final per-(province, window) row: EXACT distinct order count. */
case class ProvinceWindowRow(province_id: String, stt: Timestamp, edt: Timestamp,
                             order_amount_cents: Long, order_ct: Long)

/** The reference's DWS-layer apps (realtime-dws module) composed from
  * the engine's streaming primitives. Each is a pure Dataset transform
  * usable in batch specs and behind readStream identically.
  */
object DwsApps {

  /** DwsTradeSkuOrderWindow (SURVEY §2.5 A4+A7, §2.4 J5): upsert-aware
    * per-sku amount windows. State keyed by order-detail id emits
    * (new − last) deltas so window sums stay correct under re-emitted
    * upserts (reference :158-201) — the A7 [[StateLogic.upsertStep]],
    * whose (ts, amount) order resolves same-ts versions the same way
    * in every shuffle order; downstream: tumbling window × sku →
    * Σdelta, then broadcast dim enrichment (J5) by the caller.
    */
  def skuAmountDeltas(ds: Dataset[SkuAmount]): Dataset[SkuAmountDelta] = {
    import ds.sparkSession.implicits._
    Stateful.keyed(ds, (_: SkuAmount).id,
      (_: String, rows: Iterator[SkuAmount], st: Option[(Long, Long)]) =>
        StateLogic.upsertStep(rows, st)(_.ts, _.amountCents)(
          (v, d) => SkuAmountDelta(v.skuId, v.ts, d)))
  }

  /** Full sku-order window: deltas → window agg → dim enrichment. */
  def skuOrderWindow(orders: Dataset[SkuAmount], skuDim: DataFrame,
                     windowLen: String = "10 seconds",
                     watermark: String = "5 seconds"): DataFrame = {
    val deltas = skuAmountDeltas(orders)
      .withColumn("event_time", timestamp_millis(col("ts")))
    val agged = WindowedAggs.keyedWindowAgg(deltas.toDF(), "event_time",
      windowLen, watermark, Seq("skuId"),
      Seq(sum(col("deltaCents")).as("order_amount_cents")))
    agged.join(broadcast(skuDim), Seq("skuId"), "left_outer")
  }

  /** DwsTradeProvinceOrderWindow (A5+J7): per-province order amounts +
    * distinct order count, enriched with the province name. This is
    * the SKETCH path (approx_count_distinct — mergeable, O(1) state
    * per group); [[provinceOrderWindowExact]] is the reference-exact
    * streaming path carrying the per-window orderId set.
    */
  def provinceOrderWindow(orderDetail: DataFrame, provinceDim: DataFrame,
                          windowLen: String = "10 seconds",
                          watermark: String = "5 seconds"): DataFrame = {
    val src = orderDetail.withColumn("event_time", timestamp_millis(col("ts").cast("long")))
    val agged = WindowedAggs.keyedWindowAgg(src, "event_time", windowLen, watermark,
      Seq("province_id"),
      Seq(sum(col("split_total_amount").cast("decimal(16,2)")).as("order_amount"),
        approx_count_distinct(col("order_id")).as("order_ct")))
    agged.join(broadcast(provinceDim), Seq("province_id"), "left_outer")
  }

  /** DwsTradeProvinceOrderWindow with the reference's EXACT distinct
    * order count in the STREAMING path (VERDICT r2 #5;
    * DwsTradeProvinceOrderWindow.java:117-145): state keyed by
    * (province, window) carries the per-window orderId set + amount
    * sum, and the window emits its final exactly when the event-time
    * watermark passes the window end (the Flink window-fire contract).
    * State is bounded by the window's own distinct orders and evicted
    * at emission — the set never outlives its window, so total state
    * is O(open windows × orders-per-window) at any scale. Batch runs
    * emit directly (single pass). [[provinceOrderWindow]] remains the
    * sketch path (approx_count_distinct) for when per-window sets are
    * too hot; this is the semantics-exact default.
    */
  def provinceOrderWindowExact(orderDetail: DataFrame,
                               windowLen: String = "10 seconds",
                               watermark: String = "5 seconds"): Dataset[ProvinceWindowRow] = {
    val spark = orderDetail.sparkSession
    import spark.implicits._
    val streaming = orderDetail.isStreaming
    val src0 = orderDetail
      .withColumn("event_time", timestamp_millis(col("ts").cast("long")))
    val src = if (streaming) src0.withWatermark("event_time", watermark) else src0
    val events = src
      .withColumn("w", window(col("event_time"), windowLen))
      .select(col("province_id").as("provinceId"),
        col("w.start").as("ws"), col("w.end").as("we"),
        col("order_id").as("orderId"),
        floor(col("split_total_amount").cast("decimal(16,2)") * 100)
          .cast("long").as("amountCents"),
        col("event_time").as("et"))
      .as[ProvinceWindowEvent]
    events.groupByKey(e => (e.provinceId, e.ws.getTime))
      .flatMapGroupsWithState[ProvinceWindowState, ProvinceWindowRow](
        OutputMode.Append,
        if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[ProvinceWindowEvent],
         state: GroupState[ProvinceWindowState]) =>
          if (streaming && state.hasTimedOut) {
            // watermark passed the window end: fire the final, drop state
            val s = state.get
            state.remove()
            Iterator.single(ProvinceWindowRow(key._1, new Timestamp(key._2),
              new Timestamp(s.windowEndMs), s.amountCents, s.orderIds.size.toLong))
          } else {
            var s = state.getOption.getOrElse(ProvinceWindowState(0L, Set.empty, 0L))
            rows.foreach { e =>
              s = ProvinceWindowState(e.we.getTime, s.orderIds + e.orderId,
                s.amountCents + e.amountCents)
            }
            if (streaming) {
              state.update(s)
              // fire when the watermark reaches the window end (never
              // behind the current watermark — Spark rejects that)
              state.setTimeoutTimestamp(
                math.max(s.windowEndMs, state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            } else {
              // batch: the single pass IS the closed window
              Iterator.single(ProvinceWindowRow(key._1, new Timestamp(key._2),
                new Timestamp(s.windowEndMs), s.amountCents, s.orderIds.size.toLong))
            }
          }
      }
  }

  /** DwsTrafficSourceKeywordPageViewWindow (P7+J9+A1): search-keyword
    * tokenization + windowed counts — the flagship slice, streaming.
    * Tokenization is the CJK-aware native expression (whitespace split
    * + character bigrams over CJK runs — the IK-analyzer stand-in,
    * reference IkUtil.java:12-28), so spaceless Chinese keywords
    * segment instead of passing through as one token.
    */
  def keywordWindow(pages: DataFrame, windowLen: String = "10 seconds",
                    watermark: String = "5 seconds"): DataFrame = {
    val kw = pages
      .filter(col("last_page_id") === "search" &&
        col("item_type") === "keyword" && col("item").isNotNull)
      .withColumn("event_time", timestamp_millis(col("ts")))
      .select(col("event_time"),
        explode(graft.functions.functions.cjk_tokens(col("item"))).as("keyword"))
    WindowedAggs.keyedWindowAgg(kw, "event_time", windowLen, watermark,
      Seq("keyword"), Seq(count(lit(1)).as("keyword_ct")))
  }

  /** DwsUserUserLoginWindow (A6 + 7-day back-flow): per-uid state emits
    * unique-user and back-flow flags (reference :83-126); window-sum
    * downstream. Transitions are [[StateLogic.loginStep]]:
    * uu emits only when the day STRICTLY advances past the stored last
    * day, so a replayed or out-of-order older day can neither re-emit
    * uu nor regress the state (the reference's equality-only compare
    * double-counts on reordering). Property-tested in StatefulProps.
    */
  def loginFlags(ds: Dataset[LoginEvent], gapDays: Int = 7): Dataset[LoginFlags] = {
    import ds.sparkSession.implicits._
    Stateful.keyed(ds, (_: LoginEvent).uid, loginBatch(gapDays))
  }

  /** [[loginFlags]] with dormant-uid eviction (VERDICT r2 #1; see
    * graft.streaming.Stateful.firstSeenPerDayEvicting): a uid idle for
    * `idleTtlDays` of event time is dropped from the store; if it logs
    * in again it re-counts one uu, but with its last day gone it is not
    * flagged back-flow — the reference's own TTL trade, and the reason
    * the TTL default (30 days) sits well past the gap (7). Total state
    * tracks ACTIVE uids.
    * Batch runs behave exactly like [[loginFlags]].
    */
  def loginFlagsEvicting(ds: Dataset[LoginEvent], gapDays: Int = 7,
                         idleTtlDays: Int = 30,
                         watermarkDelay: String = "1 second"): Dataset[LoginFlags] = {
    import ds.sparkSession.implicits._
    Stateful.keyed(ds, (_: LoginEvent).uid, loginBatch(gapDays), Some(Eviction[String](
      col("ts"), watermarkDelay, d => Stateful.dayExpiryMs(d, idleTtlDays))))
  }

  /** Per-uid login step: the uid's logins in (day, ts) order through
    * [[StateLogic.loginStep]]; state is the last login day.
    */
  private def loginBatch(gapDays: Int)
      : (String, Iterator[LoginEvent], Option[String]) => (Seq[LoginFlags], Option[String]) = {
    (uid, rows, st) =>
      var last = st
      val out = rows.toSeq.sortBy(e => (e.day, e.ts.getTime)).flatMap { e =>
        val (uu, back, next) = StateLogic.loginStep(last, e.day, gapDays)
        last = Some(next)
        if (uu) Some(LoginFlags(uid, 1L, if (back) 1L else 0L, e.ts)) else None
      }
      (out, last)
  }

  /** Full login window: flags → global tumbling sums (A3 shape). */
  def userLoginWindow(logins: Dataset[LoginEvent], windowLen: String = "10 seconds",
                      watermark: String = "5 seconds", gapDays: Int = 7): DataFrame =
    WindowedAggs.globalWindowAgg(loginFlags(logins, gapDays).toDF(), "ts",
      windowLen, watermark,
      Seq(sum(col("uuCt")).as("uu_ct"), sum(col("backCt")).as("back_ct")))
}
