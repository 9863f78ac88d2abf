package graft.streaming

import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.functions.{col, timestamp_millis, to_timestamp}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model._

/** Dormant-key eviction of a [[Stateful.keyed]] operator: the input
  * is watermarked on `eventTime` (delayed by `watermarkDelay`), and a
  * key whose state is `s` is removed from the store once the
  * watermark passes `expiryMs(s)`.
  */
private[graft] final case class Eviction[S](eventTime: Column, watermarkDelay: String,
                                            expiryMs: S => Long)

/** The arbitrary-stateful operator family (SURVEY.md §2.5 A6/A7/A8) —
  * the one part of the reference that genuinely needs Spark's
  * arbitrary per-key group state rather than declarative aggregation.
  *
  * Every keyed-state operator (here, [[TrafficPageView.annotate]] and
  * [[graft.rtdw.DwsApps]]' login and sku-amount folds) is ONE pure
  * per-batch step run by [[keyed]], which owns the grouping, the
  * timeout mode and the eviction protocol; an `X` / `XEvicting` pair
  * is two calls of the driver with the same step. The family keeps
  * the group-state API, not Spark 4's stateful-processor API: the
  * latter needs the RocksDB state store, while the benchmarked live
  * UV query runs on Spark's default HDFS-backed one.
  *
  * Each operator shuffles once on its key and keeps O(1) state per
  * key, so state size scales with key cardinality only — the property
  * that lets them run at 100 TB with a RocksDB state store. Works
  * identically over streaming Datasets (micro-batch, state across
  * batches) and batch Datasets (single group pass), which is how the
  * specs pin their semantics.
  */
object Stateful {

  private val EventTimeCol = "__event_time"

  /** Run `step` per key over `ds`: the step sees the key's rows of one
    * (micro-)batch and its previous state, and returns the rows to
    * emit and the next state (None leaves the stored state as is).
    * Without `evict`, or over a batch Dataset, this is a plain
    * NoTimeout group-state operator — no watermark, no timeout, no
    * added column. With it, a streaming input is watermarked on the
    * eviction's event time and every stored state carries an
    * event-time timeout at its expiry (never behind the watermark,
    * which Spark rejects; +1 so a straggler key still gets one full
    * TTL from "now"); a timed-out key is removed without output.
    */
  private[graft] def keyed[I, K: Encoder, S: Encoder, O: Encoder](
      ds: Dataset[I], key: I => K,
      step: (K, Iterator[I], Option[S]) => (Seq[O], Option[S]),
      evict: Option[Eviction[S]] = None): Dataset[O] = {
    val ev = evict.filter(_ => ds.isStreaming)
    val src = ev.fold(ds) { e =>
      ds.withColumn(EventTimeCol, e.eventTime)
        .withWatermark(EventTimeCol, e.watermarkDelay).as[I](ds.encoder)
    }
    val expiry = ev.map(_.expiryMs)
    src.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append,
        if (expiry.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (k: K, rows: Iterator[I], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove() // dormant key: physically evicted from the store
            Iterator.empty
          } else {
            val (out, next) = step(k, rows, state.getOption)
            next.foreach { s =>
              state.update(s)
              expiry.foreach(e => state.setTimeoutTimestamp(
                math.max(e(s), state.getCurrentWatermarkMs() + 1)))
            }
            out.iterator
          }
      }
  }

  /** Epoch millis at which a key whose newest day is `maxDay` becomes
    * idle-evictable under an `idleDays` TTL (UTC day arithmetic —
    * matches the UTC session timezone every entry point sets).
    */
  private[graft] def dayExpiryMs(maxDay: String, idleDays: Int): Long =
    (java.time.LocalDate.parse(maxDay).toEpochDay + idleDays) * 86400000L

  /** A6 step: ascending day order within the batch — every distinct
    * day is strictly greater than the running max, so a single batch
    * emits exactly the distinct (key, day) set regardless of arrival
    * order; the retain window only governs cross-batch stragglers.
    */
  private val firstSeenBatch: (String, Iterator[KeyDay], Option[BoundedDays]) =>
      (Seq[FirstSeen], Option[BoundedDays]) = { (key, rows, st0) =>
    var st = st0
    val out = rows.map(_.day).toSet.toSeq.sorted.flatMap { d =>
      val (emit, next) = StateLogic.firstSeenStep(st, d)
      st = Some(next)
      if (emit) Some(FirstSeen(key, d)) else None
    }
    (out, st)
  }

  /** A6 — first-seen-per-day dedup (UV derivation).
    * Reference: DwsTrafficVcChArIsNewPageViewWindow.mapUvBean
    * (DwsTrafficVcChArIsNewPageViewWindow.java:120-179) and four
    * sibling apps: keyed ValueState<lastSeenDate>, emit only when the
    * day changes. Emits every (key, day) exactly once; downstream
    * windowed counts of the emissions are exact daily UVs.
    *
    * State is [[BoundedDays]]: the max day ever seen plus the days
    * within [[StateLogic.DefaultRetainDays]] of it — ≤ retainDays+1
    * entries per key FOREVER, independent of stream lifetime (the
    * property that lets this run for years against a RocksDB store).
    * Out-of-order days within the retain window still dedup exactly;
    * older stragglers are dropped as already-seen (the watermark
    * contract). The reference expires its ValueState after 1 day and
    * re-counts a returning key (:133-136); keeping the max day (one
    * string) avoids that double-count — divergence documented in
    * SURVEY §7.4. Transitions live in [[StateLogic.firstSeenStep]] so
    * the bound is property-tested without a Spark job (StatefulProps).
    */
  def firstSeenPerDay(ds: Dataset[KeyDay]): Dataset[FirstSeen] = {
    import ds.sparkSession.implicits._
    keyed(ds, (_: KeyDay).key, firstSeenBatch)
  }

  /** A6 with DORMANT-KEY EVICTION (VERDICT r2 #1): same emissions as
    * [[firstSeenPerDay]] while a key stays active, but a key idle for
    * `idleTtlDays` of event time is dropped from the state store via
    * an event-time timeout — total state tracks ACTIVE keys, not
    * all-time key cardinality. A key returning after eviction
    * re-counts (one extra emission), exactly the reference's 1-day
    * StateTtlConfig semantics
    * (DwsTrafficVcChArIsNewPageViewWindow.java:133-136). Pure model:
    * [[StateLogic.expireIfIdle]], property-tested in StatefulProps;
    * store-level eviction + re-count proven in StatefulEvictionSpec.
    * Batch runs (no watermark ⇒ no timeouts) behave exactly like
    * [[firstSeenPerDay]].
    */
  def firstSeenPerDayEvicting(ds: Dataset[KeyDay], idleTtlDays: Int = 7,
                              watermarkDelay: String = "1 second"): Dataset[FirstSeen] = {
    import ds.sparkSession.implicits._
    keyed(ds, (_: KeyDay).key, firstSeenBatch, Some(Eviction[BoundedDays](
      to_timestamp(col("day")), watermarkDelay, s => dayExpiryMs(s.maxDay, idleTtlDays))))
  }

  /** A8 — is_new repair.
    * Reference: DwdBaseLog.isNewFix (DwdBaseLog.java:143-186):
    *  - is_new=1 but the visitor's first-seen day is earlier → flip to 0
    *    (forged "new" flag);
    *  - is_new=0 but we've never seen the visitor → they predate the
    *    pipeline: backfill state with "yesterday" (any day < today) so
    *    they never count as new.
    * Transitions: [[StateLogic.isNewFixStep]].
    */
  def isNewFix(ds: Dataset[VisitorHit]): Dataset[VisitorHitFixed] = {
    import ds.sparkSession.implicits._
    keyed(ds, (_: VisitorHit).mid, StateLogic.isNewFixStep)
  }

  /** A8 with dormant-key eviction (see [[firstSeenPerDayEvicting]]):
    * a mid idle past `idleTtlDays` since its newest day is evicted; if
    * it returns, the fix logic restarts from empty state — the visitor
    * may be re-flagged new once, the same bounded re-count the
    * reference's state TTL accepts for every A6/A8-family app.
    */
  def isNewFixEvicting(ds: Dataset[VisitorHit], idleTtlDays: Int = 7,
                       watermarkDelay: String = "1 second"): Dataset[VisitorHitFixed] = {
    import ds.sparkSession.implicits._
    keyed(ds, (_: VisitorHit).mid, StateLogic.isNewFixStep, Some(Eviction[VisitorDays](
      to_timestamp(col("day")), watermarkDelay, s => dayExpiryMs(s.lastDay, idleTtlDays))))
  }

  /** A7-lite — watermark-bounded exact-duplicate drop: Spark's
    * dropDuplicatesWithinWatermark keeps per-key state only for the
    * watermark window (the reference's 30 s StateTtlConfig at
    * DwsTradeSkuOrderWindow.java:165 is exactly this contract). Use
    * when only the FIRST version of a key matters; upsertDeltas below
    * when later versions must correct earlier ones.
    */
  def dropDupsWithinWatermark(df: org.apache.spark.sql.DataFrame,
                              keys: Seq[String], tsCol: String,
                              watermark: String): org.apache.spark.sql.DataFrame = {
    val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    if (df.isStreaming) wm.dropDuplicatesWithinWatermark(keys)
    else wm.dropDuplicates(keys)
  }

  private val upsertBatch: (String, Iterator[VersionedAmount], Option[(Long, Long)]) =>
      (Seq[AmountDelta], Option[(Long, Long)]) = { (key, rows, st) =>
    StateLogic.upsertStep(rows, st)(_.ts, _.amount)((v, d) => AmountDelta(key, v.ts, d))
  }

  /** A7 — upsert-correction: per-key retract emulation.
    * Reference: DwsTradeSkuOrderWindow.processBeanStream (:158-201):
    * MapState of last amounts; each re-emission of an order-detail id
    * emits (new − last) so downstream window sums telescope to the
    * latest value without retract streams. Transitions:
    * [[StateLogic.upsertStep]].
    */
  def upsertDeltas(ds: Dataset[VersionedAmount]): Dataset[AmountDelta] = {
    import ds.sparkSession.implicits._
    keyed(ds, (_: VersionedAmount).key, upsertBatch)
  }

  /** A7 with CORRECTION-WINDOW eviction — the reference's exact
    * contract: its per-id last-amount MapState carries a 30 s
    * StateTtlConfig (DwsTradeSkuOrderWindow.java:165), accepting that
    * a correction arriving after the TTL re-counts the full amount.
    * Without eviction this state grows with ALL-TIME order-detail-id
    * cardinality — the single fastest-growing key space in the whole
    * warehouse (one key per order line ever). With it, state is
    * O(ids within the correction window). Corrections inside the TTL
    * telescope exactly like [[upsertDeltas]]; later ones re-count —
    * spec'd in StatefulEvictionSpec, and the TTL is the caller's
    * correction-lateness bound exactly as in the reference.
    */
  def upsertDeltasEvicting(ds: Dataset[VersionedAmount],
                           ttl: String = "30 seconds",
                           watermarkDelay: String = "1 second"): Dataset[AmountDelta] = {
    import ds.sparkSession.implicits._
    val ttlMs = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(ttl)).microseconds / 1000L
    keyed(ds, (_: VersionedAmount).key, upsertBatch, Some(Eviction[(Long, Long)](
      timestamp_millis(col("ts")), watermarkDelay, s => s._1 + ttlMs)))
  }
}
