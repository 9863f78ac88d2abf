package rtbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.io.{MergeOnRead, SourceConf, Sinks, Sources, Upsert}
import graft.model.{FirstSeen, KeyDay}
import graft.rtdw.{DwdApps, IncrementalDws}
import graft.streaming.{DimPipeline, Leaderboard, LogSplit, Stateful}

/** The ODS → DWD → DWS → serving pipeline the live workload runs,
  * built only from the engine's public calls. Three hops, five
  * streaming queries:
  *
  *   ods_dwd     topic_log → LogSplit 5-way split → DWD parquet (Sinks)
  *               topic_db  → DwdApps.orderDetail → MergeOnRead fact
  *   dwd_dws     MOR fact feed → IncrementalDws.streamingMor (per-sku sums)
  *               DWD page stream → Stateful.firstSeenPerDay (daily UV)
  *   dws_serving DWD page stream → Leaderboard (1-day windows, top-3 per
  *               event type, folded into an Upsert serving table)
  *
  * Every table and checkpoint lives under `root`; `ods` holds the landed
  * input files and is only read.
  */
final class Pipeline(spark: SparkSession, ods: String, root: String, trace: Trace) {
  import spark.implicits._

  private val dwd = s"$root/dwd"
  private val fact = s"$root/dwd/order_detail_mor"
  private val dwsSku = s"$root/dws/sku_amount"
  private val dwsUv = s"$root/dws/uv"
  private val board = s"$root/serving/leaderboard"
  private val ck = s"$root/checkpoints"

  /** Query id → "<hop>.<query>", for attributing progress events. */
  val names = scala.collection.mutable.Map.empty[String, String]
  private var contractRecorded = false

  private def named(name: String)(q: StreamingQuery): StreamingQuery = {
    names(q.id.toString) = name
    q
  }

  /** The foreachBatch body of a hop query, traced as `head.build` for the
    * public call that builds its plan and `sink` for the write. */
  private def build[T](query: String)(body: => T): T =
    trace.span("head.build", Map("query" -> query))(body)

  def odsDwd(trigger: Trigger): Seq[StreamingQuery] = {
    val split = LogSplit.parse(Sources.stream(spark, SourceConf("file", path = Some(s"$ods/topic_log"))))
      .writeStream.option("checkpointLocation", s"$ck/log_split").trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try build("ods_dwd.log_split")(LogSplit.splitAll(b)).foreach { case (sink, df) =>
          trace.span("sink", Map("query" -> "ods_dwd.log_split")) {
            Sinks.exactlyOnceBatch(df, s"$dwd/$sink", batchId)
          }
        } finally { b.unpersist(); () }
      }.start()
    val trade = DimPipeline.parseCdc(Sources.stream(spark, SourceConf("file", path = Some(s"$ods/topic_db"))))
      .writeStream.option("checkpointLocation", s"$ck/trade").trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          // a correction re-emits its order, so one batch may join a
          // detail to two identical order rows: keep one per (id, ts)
          val rows = build("ods_dwd.trade")(DwdApps.orderDetail(b).select(
            col("id"), col("order_id"), col("sku_id"), col("user_id"), col("province_id"),
            (col("split_total_amount").cast("decimal(16,2)") * 100).cast("long").as("amount_cents"),
            col("ts")).dropDuplicates("id", "ts"))
          trace.span("sink", Map("query" -> "ods_dwd.trade")) {
            MergeOnRead.merge(spark, fact, rows, commitId = Some(s"trade-$batchId"))
          }
          ()
        } finally { b.unpersist(); () }
      }.start()
    Seq(named("ods_dwd.log_split")(split), named("ods_dwd.trade")(trade))
  }

  /** Record the fact's key and version once its first delta exists; the
    * DWS fold resolves retractions through this contract. */
  def ensureContract(): Unit = if (!contractRecorded) {
    MergeOnRead.recordContract(spark, fact, Seq("id"), "ts", None, Upsert.DefaultNumBuckets)
    contractRecorded = true
  }

  private def pageStream: DataFrame = {
    val dir = s"$dwd/dwd_traffic_page"
    spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
  }

  private def pageEvents: DataFrame = {
    val eventType = Pipeline.pageTypes.foldLeft(lit(null).cast("string")) {
      case (acc, (page, et)) => when(col("page_id") === page, et).otherwise(acc)
    }
    pageStream.select(eventType.as("event_type"),
      (col("during_time") / 1000.0).as("value"),
      timestamp_millis(col("ts")).as("event_time"))
  }

  def dwdDws(trigger: Trigger): Seq[StreamingQuery] = {
    ensureContract()
    // no paired compaction: a background compaction landing inside some
    // runs' timed window and not others' would dominate their spread; a
    // run's delta backlog stays a few dozen batches
    val sku = IncrementalDws.streamingMor(spark, fact, dwsSku, Seq("sku_id"), Seq("amount_cents"),
      s"$ck/sku_fold", trigger)
    val keys = build("dwd_dws.uv")(pageStream.select(col("mid").as("key"),
      date_format(timestamp_millis(col("ts")), "yyyy-MM-dd").as("day")).as[KeyDay])
    val uv = Stateful.firstSeenPerDay(keys)
      .writeStream.option("checkpointLocation", s"$ck/uv").trigger(trigger)
      .foreachBatch { (firsts: Dataset[FirstSeen], batchId: Long) =>
        trace.span("sink", Map("query" -> "dwd_dws.uv")) {
          Sinks.exactlyOnceBatch(firsts.toDF(), dwsUv, batchId)
        }
        ()
      }.start()
    Seq(named("dwd_dws.sku_fold")(sku), named("dwd_dws.uv")(uv))
  }

  def dwsServing(trigger: Trigger): Seq[StreamingQuery] = {
    val lb = build("dws_serving.leaderboard")(Leaderboard.dailyFinals(pageEvents))
      .writeStream.option("checkpointLocation", s"$ck/leaderboard").trigger(trigger)
      .foreachBatch { (finals: DataFrame, batchId: Long) =>
        trace.span("sink", Map("query" -> "dws_serving.leaderboard")) {
          Leaderboard.fold(spark, board, finals, batchId)
        }
      }.start()
    Seq(named("dws_serving.leaderboard")(lb))
  }

  // ---- readers ------------------------------------------------------------

  /** Live fact rows folded into the DWS sku table (Σ row_ct). */
  def skuRows(): Long = IncrementalDws.current(spark, dwsSku)
    .map(_.agg(sum(col("row_ct"))).head()).filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)

  /** Distinct (mid, day) pairs the UV table has emitted. */
  def uvRows(): Long =
    if (exists(dwsUv)) spark.read.parquet(dwsUv).count() else 0L

  def leaderboardRows(): Long = Leaderboard.current(spark, board).map(_.count()).getOrElse(0L)

  private def exists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def rows(df: Option[DataFrame], cols: String*): Seq[Seq[Any]] =
    df.map(_.select(cols.map(col): _*).collect().toSeq.map(_.toSeq)).getOrElse(Nil)

  /** The final DWS and serving tables, for the batch-recompute check. */
  def dump(): Map[String, Any] = Map(
    "sku" -> rows(IncrementalDws.current(spark, dwsSku), "sku_id", "amount_cents", "row_ct"),
    "uv" -> rows(if (exists(dwsUv)) Some(spark.read.parquet(dwsUv)) else None, "key", "day"),
    "leaderboard" -> rows(Leaderboard.current(spark, board), "event_type", "day", "day_cents", "rnk"))

  /** Table shape at the end of a run: the fact's delta backlog and
    * compaction watermark, and files / bytes under every table root. */
  def ioStats(): Map[String, Any] = {
    val st = MergeOnRead.stats(spark, fact)
    val (files, bytes) = Dirs.walk(new java.io.File(root), skip = Set("checkpoints"))
    Map("fact_deltas" -> st.liveDeltaBatches, "compacted_upto" -> st.compactedUpto,
      "files" -> files, "bytes" -> bytes)
  }
}

object Pipeline {
  /** Page → serving event type; the generator draws pages from the same
    * table (gen.PAGE_TYPES). */
  val pageTypes: Seq[(String, String)] = Seq(
    "home" -> "view", "search" -> "view", "good_detail" -> "click", "cart" -> "click",
    "payment" -> "purchase", "register" -> "signup", "error_page" -> "error")
}

object Dirs {
  /** (regular files, bytes) under `dir`, skipping the top-level `skip`. */
  def walk(dir: java.io.File, skip: Set[String] = Set.empty): (Long, Long) = {
    var files, bytes = 0L
    def go(f: java.io.File, top: Boolean): Unit =
      if (f.isDirectory) {
        if (!(top && skip(f.getName))) Option(f.listFiles()).foreach(_.foreach(go(_, false)))
      } else { files += 1; bytes += f.length() }
    Option(dir.listFiles()).foreach(_.foreach(c => go(c, top = true)))
    (files, bytes)
  }
}
