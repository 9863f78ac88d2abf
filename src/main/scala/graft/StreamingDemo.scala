package graft

import java.nio.file.{Files, Paths}
import scala.util.chaining._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.{SourceConf, Sources}
import graft.model._
import graft.streaming._

/** End-to-end streaming demonstration over real file streams:
  *
  *   topic_log files ─readStream→ LogSplit (5-way) ─foreachBatch→ parquet
  *                      └→ pageDf → Stateful.firstSeenPerDay → memory sink
  *   topic_db CDC files ─readStream→ DimPipeline (config-routed MERGE)
  *
  * This is the reference's DIM + DWD-log + DWS-UV spine running as
  * actual Structured Streaming queries (micro-batches, checkpoints,
  * cross-batch state) — not batch re-expressions.
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .pipe(graft.core.GraftSession.engineConfs)
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    val root = Files.createTempDirectory("graft_stream").toString
    val logDir = s"$root/topic_log"; val cdcDir = s"$root/topic_db"
    val out = s"$root/dwd"; val wh = s"$root/dim"
    Files.createDirectories(Paths.get(logDir)); Files.createDirectories(Paths.get(cdcDir))

    // ---- DWD log split + DWS UV over a log file stream ----
    val logLines = Seq(
      """{"common":{"mid":"m1","uid":"u1","vc":"v1","ch":"app","ar":"110000","is_new":"1"},"page":{"page_id":"home","last_page_id":null,"item":null,"item_type":null,"during_time":3000},"displays":[{"item":"sku1","item_type":"sku_id","pos_id":1}],"actions":[{"action_id":"favor_add","item":"sku1","ts":1704067201000}],"ts":1704067200000}""",
      """{"common":{"mid":"m2","uid":"u2","vc":"v1","ch":"web","ar":"120000","is_new":"0"},"start":{"entry":"icon","loading_time":300},"ts":1704067210000}""",
      """{"common":{"mid":"m1","uid":"u1","vc":"v1","ch":"app","ar":"110000","is_new":"0"},"page":{"page_id":"good_detail","last_page_id":"home","item":"sku1","item_type":"sku_id","during_time":2000},"ts":1704153700000}""")
    Files.write(Paths.get(s"$logDir/part-000.json"), logLines.mkString("\n").getBytes)

    // all sources open through the config layer (S1's "swap to Kafka is
    // config-only" claim): same app code, SourceConf picks the transport
    val rawLog = Sources.stream(spark, SourceConf("file", path = Some(logDir)))
    val parsedStream = LogSplit.parse(rawLog)
    val splitQuery = parsedStream.writeStream
      .option("checkpointLocation", s"$root/ck_split")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        LogSplit.splitAll(batch.cache()).foreach { case (sink, df) =>
          // idempotent per-batch commit: a replayed batch is a no-op (K1)
          graft.io.Sinks.exactlyOnceBatch(df, s"$out/$sink", batchId); ()
        }
      }.start()

    val uvQuery = Stateful.firstSeenPerDay(
      LogSplit.pageDf(parsedStream)
        .select($"mid".as("key"),
          date_format(timestamp_millis($"ts"), "yyyy-MM-dd").as("day"))
        .as[KeyDay])
      .writeStream.format("memory").queryName("uv")
      .option("checkpointLocation", s"$root/ck_uv")
      .outputMode("append").start()

    // ---- DIM pipeline over a CDC file stream ----
    val cdcLines = Seq(
      """{"database":"gmall","table":"base_dic","type":"insert","ts":1,"data":{"dic_code":"1001","dic_name":"pending"}}""",
      """{"database":"gmall","table":"base_dic","type":"insert","ts":1,"data":{"dic_code":"1002","dic_name":"paid"}}""",
      """{"database":"gmall","table":"base_dic","type":"update","ts":2,"data":{"dic_code":"1001","dic_name":"PENDING"}}""")
    Files.write(Paths.get(s"$cdcDir/part-000.json"), cdcLines.mkString("\n").getBytes)
    val cfg = Seq(DimConfig("base_dic", "dim_base_dic", Seq("dic_code", "dic_name"), "dic_code"))
    val dimQuery = DimPipeline.run(spark,
      Sources.stream(spark, SourceConf("file", path = Some(cdcDir))),
      () => cfg, wh, s"$root/ck_dim")

    splitQuery.processAllAvailable()
    uvQuery.processAllAvailable()
    dimQuery.processAllAvailable()

    // second wave: new files → new micro-batch; state must carry over
    Files.write(Paths.get(s"$logDir/part-001.json"),
      """{"common":{"mid":"m1","uid":"u1","vc":"v1","ch":"app","ar":"110000","is_new":"0"},"page":{"page_id":"cart","last_page_id":"good_detail","item":null,"item_type":null,"during_time":500},"ts":1704153800000}""".getBytes)
    Files.write(Paths.get(s"$cdcDir/part-001.json"),
      """{"database":"gmall","table":"base_dic","type":"delete","ts":3,"data":{"dic_code":"1002","dic_name":"paid"}}""".getBytes)
    splitQuery.processAllAvailable(); uvQuery.processAllAvailable(); dimQuery.processAllAvailable()
    splitQuery.stop(); uvQuery.stop(); dimQuery.stop()

    // ---- full trade chain: CDC → DWD order-detail join → DWS sku window ----
    val tradeDir = s"$root/topic_trade"
    Files.createDirectories(Paths.get(tradeDir))
    Files.write(Paths.get(s"$tradeDir/part-000.json"), Seq(
      """{"database":"gmall","table":"order_detail","type":"insert","ts":1704067200000,"data":{"id":"d1","order_id":"o1","sku_id":"sku1","sku_num":"1","split_total_amount":"10.00"}}""",
      """{"database":"gmall","table":"order_detail","type":"insert","ts":1704067201000,"data":{"id":"d2","order_id":"o1","sku_id":"sku2","sku_num":"2","split_total_amount":"20.00"}}""",
      """{"database":"gmall","table":"order_info","type":"insert","ts":1704067200000,"data":{"id":"o1","user_id":"u1","province_id":"p1"}}""",
      """{"database":"gmall","table":"order_detail_activity","type":"insert","ts":1704067200000,"data":{"order_detail_id":"d1","activity_id":"a1"}}""")
      .mkString("\n").getBytes)
    val dwdQuery = DimPipeline.parseCdc(
      Sources.stream(spark, SourceConf("file", path = Some(tradeDir))))
      .writeStream
      .option("checkpointLocation", s"$root/ck_dwd")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        graft.io.Sinks.exactlyOnceBatch(
          graft.rtdw.DwdApps.orderDetail(batch.cache()),
          s"$out/dwd_trade_order_detail", batchId); ()
      }.start()
    // ---- fact firehose via merge-on-read: every micro-batch appends
    // one O(batch) delta (never rewrites the table), commitId makes the
    // append exactly-once under replay, and the read resolves
    // latest-ts-per-id — the scale path for random-key fact upserts
    // (io.MergeOnRead; copy-on-write buckets stay for CDC dims).
    val morDir = s"$root/mor_order_detail"
    val morQuery = DimPipeline.parseCdc(
      Sources.stream(spark, SourceConf("file", path = Some(tradeDir))))
      .filter(col("table") === "order_detail")
      .select(col("data.id").as("id"), col("data.order_id").as("order_id"),
        col("data.sku_id").as("sku_id"),
        col("data.split_total_amount").as("split_total_amount"), col("ts"))
      .writeStream
      .option("checkpointLocation", s"$root/ck_mor")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        graft.io.MergeOnRead.merge(spark, morDir, batch,
          commitId = Some(s"demo-$batchId")); ()
      }.start()
    dwdQuery.processAllAvailable()
    morQuery.processAllAvailable()

    // ---- DWS gold: the DWD parquet dir itself is a STREAM; windowed
    // agg finals land date-partitioned through the config sink (K4) ----
    val dwdSchema = spark.read.parquet(s"$out/dwd_trade_order_detail").schema
    val goldQuery = graft.io.Sinks.stream(
      WindowedAggs.keyedWindowAgg(
        spark.readStream.schema(dwdSchema).parquet(s"$out/dwd_trade_order_detail")
          .withColumn("event_time", timestamp_millis(col("ts"))),
        "event_time", "10 seconds", "5 seconds", Seq("sku_id"),
        Seq(sum(col("split_total_amount").cast("decimal(16,2)")).as("order_amount"))),
      graft.io.SinkConf("file", checkpoint = s"$root/ck_gold",
        path = Some(s"$out/dws_sku_gold"), topicColumn = Some("cur_date")))

    // late-data quarantine on the same DWD stream (§2.6+, VERDICT r2
    // #8): rows trailing the persisted high-watermark by more than the
    // agg's delay are exactly the rows the windowed agg silently drops
    // — park them in a _late table (idempotent batch-addressed commits;
    // the hwm itself is keyed by batchId, so a replayed batch re-splits
    // identically) instead of losing them.
    val lateQuery = spark.readStream.schema(dwdSchema)
      .parquet(s"$out/dwd_trade_order_detail")
      .withColumn("event_time", timestamp_millis(col("ts")))
      .writeStream
      .option("checkpointLocation", s"$root/ck_late")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val b = batch.cache()
        val (onTime, late) = LateData.splitBatch(spark, b, "event_time",
          "5 seconds", s"$root/hwm_gold", batchId)
        graft.io.Sinks.exactlyOnceBatch(late.drop("event_time"),
          s"$out/dws_sku_gold_late", batchId)
        println(s"[demo]   gold wave $batchId: onTime=${onTime.count()} late=${late.count()}")
        b.unpersist(); ()
      }.start()

    goldQuery.processAllAvailable()
    lateQuery.processAllAvailable()
    // later waves advance the watermark past the first windows, so
    // their finals flush to the gold table (watermark advances from
    // the PREVIOUS batch's max event time — the second wave makes the
    // first windows closable, the third carries that watermark in)
    Files.write(Paths.get(s"$tradeDir/part-001.json"), Seq(
      """{"database":"gmall","table":"order_detail","type":"insert","ts":1704070800000,"data":{"id":"d9","order_id":"o2","sku_id":"sku1","sku_num":"1","split_total_amount":"5.00"}}""",
      """{"database":"gmall","table":"order_info","type":"insert","ts":1704070800000,"data":{"id":"o2","user_id":"u2","province_id":"p1"}}""")
      .mkString("\n").getBytes)
    dwdQuery.processAllAvailable()
    morQuery.processAllAvailable()
    goldQuery.processAllAvailable()
    lateQuery.processAllAvailable()
    Files.write(Paths.get(s"$tradeDir/part-002.json"), Seq(
      """{"database":"gmall","table":"order_detail","type":"insert","ts":1704074400000,"data":{"id":"d10","order_id":"o3","sku_id":"sku2","sku_num":"1","split_total_amount":"1.00"}}""",
      """{"database":"gmall","table":"order_info","type":"insert","ts":1704074400000,"data":{"id":"o3","user_id":"u3","province_id":"p2"}}""")
      .mkString("\n").getBytes)
    dwdQuery.processAllAvailable()
    morQuery.processAllAvailable()
    goldQuery.processAllAvailable()
    lateQuery.processAllAvailable()
    // a STRAGGLER: event time back in the demo's very first window,
    // hours behind the watermark — the gold agg drops it silently; the
    // quarantine catches it
    Files.write(Paths.get(s"$tradeDir/part-003.json"), Seq(
      """{"database":"gmall","table":"order_detail","type":"insert","ts":1704067205000,"data":{"id":"d11","order_id":"o4","sku_id":"sku1","sku_num":"1","split_total_amount":"99.00"}}""",
      """{"database":"gmall","table":"order_info","type":"insert","ts":1704067205000,"data":{"id":"o4","user_id":"u1","province_id":"p1"}}""")
      .mkString("\n").getBytes)
    dwdQuery.processAllAvailable()
    morQuery.processAllAvailable()
    goldQuery.processAllAvailable()
    lateQuery.processAllAvailable()
    dwdQuery.stop(); morQuery.stop(); goldQuery.stop(); lateQuery.stop()
    println("[demo] merge-on-read fact table (latest ts per id; " +
      s"${graft.io.MergeOnRead.deltaBatches(spark, morDir).size} delta batches):")
    graft.io.MergeOnRead.read(spark, morDir, Seq("id"), "ts")
      .select("id", "order_id", "sku_id", "split_total_amount")
      .orderBy("id").collect()
      .foreach(r => println(s"[demo]   ${r.mkString(" | ")}"))
    println("[demo] dws_sku_gold (streaming window finals via config sink):")
    spark.read.parquet(s"$out/dws_sku_gold")
      .select("cur_date", "stt", "sku_id", "order_amount")
      .orderBy("sku_id").collect()
      .foreach(r => println(s"[demo]   ${r.mkString(" | ")}"))
    println("[demo] dws_sku_gold_late quarantine (rows the window agg dropped):")
    spark.read.parquet(s"$out/dws_sku_gold_late")
      .select("id", "order_id", "sku_id", "split_total_amount")
      .collect()
      .foreach(r => println(s"[demo]   LATE ${r.mkString(" | ")}"))

    val dwd = spark.read.parquet(s"$out/dwd_trade_order_detail")
    val skuAgg = dwd
      .groupBy(window(timestamp_millis(col("ts")), "10 seconds"), col("sku_id"))
      .agg(sum(col("split_total_amount").cast("decimal(16,2)")).as("order_amount"))
      .select(date_format(col("window.start"), "HH:mm:ss").as("stt"),
        col("sku_id"), col("order_amount"))

    println("[demo] dwd_trade_order_detail (CDC multi-table join):")
    dwd.select("id", "order_id", "user_id", "activity_id").orderBy("id").collect()
      .foreach(r => println(s"[demo]   ${r.mkString(" | ")}"))
    println("[demo] dws sku window over DWD output:")
    skuAgg.orderBy("sku_id").collect()
      .foreach(r => println(s"[demo]   ${r.mkString(" | ")}"))

    println("[demo] dwd splits:")
    Seq("dwd_traffic_page", "dwd_traffic_start", "dwd_traffic_display", "dwd_traffic_action")
      .foreach { s =>
        val n = spark.read.parquet(s"$out/$s").count()
        println(s"[demo]   $s rows=$n")
      }
    println("[demo] uv emissions (mid × first day, deduped across batches):")
    spark.table("uv").orderBy("key", "day").collect()
      .foreach(r => println(s"[demo]   ${r.getString(0)} ${r.getString(1)}"))
    println("[demo] dim_base_dic after insert+update+delete:")
    spark.read.parquet(s"$wh/dim_base_dic").select("dic_code", "dic_name")
      .orderBy("dic_code").collect()
      .foreach(r => println(s"[demo]   ${r.getString(0)} -> ${r.getString(1)}"))
    spark.stop()
  }
}
