package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Upsert

/** Streaming top-N per group — the DWS leaderboard the reference
  * serves from Doris over its windowed aggregates (VERDICT r5 #5):
  * the stream maintains the (group, day) aggregate table; the
  * leaderboard is a RANK over that small table, refreshed per batch.
  *
  * Reference shape: DWS window apps write per-window rows to Doris
  * (e.g. DwsTradeSkuOrderWindow), and the serving layer ranks them
  * (ADS "top N" queries). Spark shape: event-time tumbling windows
  * with a watermark (append mode → one FINAL row per window per key),
  * foreachBatch folds those finals into an [[Upsert]] day-aggregate
  * table keyed (event_type, day), then rewrites the top-N snapshot
  * from it — both manifest-committed. The ranking is literally
  * [[graft.ops.Relational.topNPerGroupDf]], the oracled batch
  * operator, so streaming and batch leaderboards cannot drift.
  *
  * Idempotent under replay: the day-aggregate merge is LWW on
  * `__v = batchId` (a replayed batch re-merges identical finals — a
  * no-op) and the leaderboard snapshot is a pure function of the
  * aggregate generation it records. At 100 TB the fact stream never
  * reaches the rank: the only shuffle is the windowed aggregation; the
  * rank runs over |groups × days| rows.
  */
object Leaderboard {

  private def aggDir(dir: String) = s"${dir.stripSuffix("/")}/day_agg"
  private def topDir(dir: String) = s"${dir.stripSuffix("/")}/topn"

  /** The windowed-finals stream: 1-day tumbling windows per event_type
    * over an evented stream (ts, event_type, value) — one final row per
    * (day, event_type) once the watermark passes the day.
    */
  def dailyFinals(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    WindowedAggs.keyedWindowAgg(events, "event_time", "1 day", watermark,
      Seq("event_type"),
      Seq(sum(floor(col("value") * 100).cast("long")).as("day_cents")))
      .select(col("cur_date").as("day"), col("event_type"), col("day_cents"))

  // "<day-aggregate generation>:<n>" a top-N snapshot was ranked from,
  // recorded in the snapshot's own manifest props
  private val RankedFromProp = "rankedFrom"

  /** foreachBatch body: fold this batch's finalized windows into the
    * day-aggregate table and refresh the top-N snapshot. Append-mode
    * finals are complete per window (every key of a window emits in
    * the batch whose watermark closed it), so the merge is a plain
    * LWW upsert — no partial-window reconciliation needed.
    *
    * The top-N is rewritten only when the day aggregate's generation
    * (or `n`) differs from the one the served snapshot records: most
    * triggers (every no-data watermark trigger, every wave that closes
    * no day) merge no finals and skip the rank, its write and the
    * vacuum. The recorded generation commits in the same manifest
    * rename as the ranked rows, so the condition is replay-safe: a
    * crash between the merge and the refresh leaves the two
    * generations different, and the next trigger refreshes.
    */
  def fold(spark: SparkSession, dir: String, finals: DataFrame,
           batchId: Long, n: Int = 3): Unit = {
    // persist across the emptiness probe and the merge: a foreachBatch
    // DataFrame re-executes its plan per action
    val f = finals.persist()
    try {
      if (!f.isEmpty)
        Upsert.merge(spark, aggDir(dir),
          f.withColumn("__v", lit(batchId)),
          pk = Seq("event_type", "day"), versionCol = "__v")
    } finally { f.unpersist(); () }
    Upsert.currentManifest(spark, aggDir(dir)).foreach { agg =>
      val from = s"${agg.gen}:$n"
      if (!Upsert.currentManifest(spark, topDir(dir))
            .flatMap(_.props.get(RankedFromProp)).contains(from)) {
        // ranked AT the recorded generation: a merge committing
        // meanwhile cannot make the recorded gen lie about the content
        val rows = Upsert.readAt(spark, aggDir(dir), agg.gen)
        Upsert.overwriteSnapshot(spark, topDir(dir),
          graft.ops.Relational.topNPerGroupDf(
            rows.select(col("event_type"), col("day"), col("day_cents")), n),
          props = Map(RankedFromProp -> from))
        Upsert.vacuum(spark, topDir(dir), keepManifests = 2)
      }
    }
  }

  /** The served leaderboard (empty-safe). */
  def current(spark: SparkSession, dir: String): Option[DataFrame] =
    Upsert.readIfExists(spark, topDir(dir))
}
