package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.rtdw._

case class POrder(ts: Long, province_id: String, order_id: String,
                  split_total_amount: Double)

class DwsAppsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("provinceOrderWindowExact: streaming distinct order count equals the batch exact result") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1704067200000L // 2024-01-01 00:00:00 UTC, window-aligned
    val all = Seq(
      POrder(t0 + 1000, "p1", "o1", 10.00),
      POrder(t0 + 2000, "p1", "o1", 5.00),  // same order re-emitted in-batch
      POrder(t0 + 3000, "p1", "o2", 7.50),
      POrder(t0 + 4000, "p2", "o3", 2.25),
      POrder(t0 + 5000, "p1", "o2", 1.00),  // same order, NEXT micro-batch
      POrder(t0 + 6000, "p1", "o4", 3.00))
    val ms = MemoryStream[POrder]
    val q = DwsApps.provinceOrderWindowExact(ms.toDF(), "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName("pow_exact").outputMode("append").start()
    try {
      ms.addData(all.take(4): _*)
      q.processAllAvailable()
      ms.addData(all.drop(4): _*) // cross-batch duplicate order ids
      q.processAllAvailable()
      ms.addData(POrder(t0 + 30000, "p1", "o9", 1.00)) // watermark past window end → fire
      q.processAllAvailable()

      val fired = spark.table("pow_exact")
        .select("province_id", "order_amount_cents", "order_ct")
        .as[(String, Long, Long)].collect().toSet
      // the distinct count is EXACT across micro-batches: o1 twice and
      // o2 in two different batches still count once each
      assert(fired == Set(("p1", 2650L, 3L), ("p2", 225L, 1L)), s"got $fired")

      // and it matches the batch run of the same operator on the same input
      val batch = DwsApps.provinceOrderWindowExact(all.toDF())
        .filter(col("stt") === new Timestamp(t0))
        .select("province_id", "order_amount_cents", "order_ct")
        .as[(String, Long, Long)].collect().toSet
      assert(batch == fired)
    } finally q.stop()
  }

  test("skuAmountDeltas: upsert re-emissions telescope per order-detail id") {
    val out = DwsApps.skuAmountDeltas(Seq(
      SkuAmount("d1", "sku1", 1000L, 1000L),
      SkuAmount("d1", "sku1", 2000L, 1300L), // correction +300
      SkuAmount("d2", "sku1", 1500L, 500L),
      SkuAmount("d3", "sku2", 1500L, 700L)).toDS()).collect()
    val bySku = out.groupBy(_.skuId).view.mapValues(_.map(_.deltaCents).sum).toMap
    assert(bySku == Map("sku1" -> 1800L, "sku2" -> 700L))
  }

  test("skuOrderWindow: two same-ts versions of an id give one window sum in either order") {
    val skuDim = Seq(("sku1", "phone")).toDF("skuId", "sku_name")
    val t = ts("2024-01-01 00:00:01").getTime
    val v1 = SkuAmount("d1", "sku1", t, 1000L)
    val v2 = SkuAmount("d1", "sku1", t, 1300L)
    // one input partition: the group iterator yields the versions in
    // exactly this order, so only the step's own order decides
    def windowSum(vs: Seq[SkuAmount]): Set[(String, Long)] =
      DwsApps.skuOrderWindow(vs.toDS().coalesce(1), skuDim)
        .select("skuId", "order_amount_cents").as[(String, Long)].collect().toSet
    assert(windowSum(Seq(v1, v2)) == Set(("sku1", 1300L)))
    assert(windowSum(Seq(v2, v1)) == Set(("sku1", 1300L)))
  }

  test("skuOrderWindow streaming: windowed sums equal latest amounts, dims joined") {
    implicit val sqlCtx = spark.sqlContext
    val skuDim = Seq(("sku1", "phone"), ("sku2", "book")).toDF("skuId", "sku_name")
    val ms = MemoryStream[SkuAmount]
    val q = DwsApps.skuOrderWindow(ms.toDS(), skuDim)
      .writeStream.format("memory").queryName("sku_win").outputMode("append").start()
    try {
      val base = ts("2024-01-01 00:00:01").getTime
      ms.addData(
        SkuAmount("d1", "sku1", base, 1000L),
        SkuAmount("d1", "sku1", base + 2000, 1300L),
        SkuAmount("d2", "sku2", base + 3000, 400L))
      q.processAllAvailable()
      ms.addData(SkuAmount("d9", "sku1", base + 60000, 10L)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sku_win")
        .select("skuId", "order_amount_cents", "sku_name")
        .as[(String, Long, String)].collect().toSet
      assert(rows == Set(("sku1", 1300L, "phone"), ("sku2", 400L, "book")))
    } finally q.stop()
  }

  test("loginFlags: unique-per-day + gap back-flow") {
    val out = DwsApps.loginFlags(Seq(
      LoginEvent("u1", "2024-01-01", ts("2024-01-01 08:00:00")),
      LoginEvent("u1", "2024-01-01", ts("2024-01-01 09:00:00")), // same day: no emit
      LoginEvent("u1", "2024-01-10", ts("2024-01-10 08:00:00")), // gap 9 > 7: back
      LoginEvent("u2", "2024-01-03", ts("2024-01-03 08:00:00")),
      LoginEvent("u2", "2024-01-05", ts("2024-01-05 08:00:00"))) // gap 2: not back
      .toDS()).collect()
    assert(out.length == 4)
    assert(out.map(_.backCt).sum == 1L)
    assert(out.count(_.uid == "u1") == 2)
  }

  test("keywordWindow: only search-keyword pages tokenized and counted") {
    val base = ts("2024-01-01 00:00:01").getTime
    val pages = Seq(
      ("m1", "search", "keyword", "spark engine", base),
      ("m2", "search", "keyword", "spark", base + 1000),
      ("m3", "home", "keyword", "nope", base + 2000),
      ("m4", "search", "sku_id", "nope", base + 3000))
      .toDF("mid", "last_page_id", "item_type", "item", "ts")
    val out = DwsApps.keywordWindow(pages).select("keyword", "keyword_ct")
      .as[(String, Long)].collect().toMap
    assert(out == Map("spark" -> 2L, "engine" -> 1L))
  }

  test("keywordWindow: spaceless CJK keywords segment into bigrams (J9 fidelity)") {
    val base = ts("2024-01-01 00:00:01").getTime
    val pages = Seq(
      ("m1", "search", "keyword", "苹果手机", base),        // 4-char query → 3 bigrams
      ("m2", "search", "keyword", "苹果 iphone", base + 1000), // mixed spaced
      ("m3", "search", "keyword", "小米手机", base + 2000))   // shares 手机 bigram
      .toDF("mid", "last_page_id", "item_type", "item", "ts")
    val out = DwsApps.keywordWindow(pages).select("keyword", "keyword_ct")
      .as[(String, Long)].collect().toMap
    assert(out == Map(
      "苹果" -> 2L, "果手" -> 1L, "手机" -> 2L,
      "iphone" -> 1L, "小米" -> 1L, "米手" -> 1L))
  }

  test("provinceOrderWindow: per-province sums with dim name") {
    val base = ts("2024-01-01 00:00:01").getTime
    val od = Seq(
      ("d1", "o1", "p1", "10.00", base),
      ("d2", "o1", "p1", "5.50", base + 1000),
      ("d3", "o2", "p2", "7.25", base + 2000))
      .toDF("id", "order_id", "province_id", "split_total_amount", "ts")
    val dim = Seq(("p1", "Beijing"), ("p2", "Shanghai")).toDF("province_id", "province_name")
    val out = DwsApps.provinceOrderWindow(od, dim)
      .select("province_id", "province_name", "order_ct")
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("p1", "Beijing", 1L), ("p2", "Shanghai", 1L)))
  }
}
