package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model._
import graft.streaming.Stateful

class StatefulSpec extends SparkSpec {
  import spark.implicits._

  test("firstSeenPerDay emits each (key, day) exactly once (batch)") {
    val in = Seq(
      KeyDay("u1", "2024-01-01"), KeyDay("u1", "2024-01-01"),
      KeyDay("u1", "2024-01-02"), KeyDay("u2", "2024-01-01"),
      KeyDay("u2", "2024-01-01")).toDS()
    val out = Stateful.firstSeenPerDay(in).collect().toSet
    assert(out == Set(
      FirstSeen("u1", "2024-01-01"), FirstSeen("u1", "2024-01-02"),
      FirstSeen("u2", "2024-01-01")))
  }

  test("streaming firstSeenPerDay plans no watermark and no timeout; its evicting twin both") {
    implicit val sqlCtx = spark.sqlContext
    def planOf(ds: org.apache.spark.sql.Dataset[FirstSeen], name: String): String = {
      val q = ds.writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan.toString
      } finally q.stop()
    }
    val ms = MemoryStream[KeyDay]
    ms.addData(KeyDay("u1", "2024-01-01"))
    val plain = planOf(Stateful.firstSeenPerDay(ms.toDS()), "fsd_plan")
    assert(plain.contains("NoTimeout") && !plain.contains("EventTimeWatermark") &&
      !plain.contains("__event_time"), plain)
    val evicting = planOf(Stateful.firstSeenPerDayEvicting(ms.toDS()), "fsd_plan_evict")
    assert(evicting.contains("EventTimeTimeout") && evicting.contains("EventTimeWatermark"),
      evicting)
  }

  test("firstSeenPerDay keeps state across micro-batches (streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[KeyDay]
    val q = Stateful.firstSeenPerDay(ms.toDS())
      .writeStream.format("memory").queryName("fsd").outputMode("append").start()
    try {
      ms.addData(KeyDay("u1", "2024-01-01"), KeyDay("u2", "2024-01-01"))
      q.processAllAvailable()
      ms.addData(KeyDay("u1", "2024-01-01"), // dup across batches: suppressed
        KeyDay("u1", "2024-01-02"))
      q.processAllAvailable()
      val rows = spark.table("fsd").as[FirstSeen].collect().toSeq
      assert(rows.size == 3)
      assert(rows.count(r => r.key == "u1" && r.day == "2024-01-01") == 1)
    } finally q.stop()
  }

  test("firstSeenPerDay matches the declarative batch UV analog on real events") {
    import org.apache.spark.sql.functions._
    val ev = graft.io.Tables.events(spark, sf)
      .select(col("user_id").cast("string").as("key"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .as[KeyDay]
    val stateful = Stateful.firstSeenPerDay(ev)
      .groupBy($"day").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val declarative = graft.ops.Relational.a6FirstSeenUv(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stateful == declarative)
  }

  test("isNewFix flips forged is_new and handles pre-pipeline visitors") {
    val in = Seq(
      VisitorHit("m1", "2024-01-01", "1"),  // genuinely new
      VisitorHit("m1", "2024-01-02", "1"),  // forged: first day was 01-01
      VisitorHit("m1", "2024-01-01", "1"),  // same first day: stays new
      VisitorHit("m2", "2024-01-02", "0")). // pre-pipeline old visitor
      toDS()
    val out = Stateful.isNewFix(in).collect()
    assert(out.count(h => h.mid == "m1" && h.day == "2024-01-01" && h.isNew == "1") == 2)
    assert(out.filter(h => h.mid == "m1" && h.day == "2024-01-02").forall(_.isNew == "0"))
    assert(out.filter(_.mid == "m2").forall(_.isNew == "0"))
  }

  test("isNewFix: visitor marked old stays old on later days (streaming state)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[VisitorHit]
    val q = Stateful.isNewFix(ms.toDS())
      .writeStream.format("memory").queryName("inf").outputMode("append").start()
    try {
      ms.addData(VisitorHit("m9", "2024-01-05", "0"))
      q.processAllAvailable()
      ms.addData(VisitorHit("m9", "2024-01-06", "1")) // forged after old sighting
      q.processAllAvailable()
      val rows = spark.table("inf").as[VisitorHitFixed].collect()
      assert(rows.forall(_.isNew == "0"))
    } finally q.stop()
  }

  test("dropDupsWithinWatermark suppresses within-watermark re-emissions (streaming)") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val ms = MemoryStream[(String, Timestamp, Double)]
    val df = ms.toDF().toDF("id", "ts", "amount")
    val q = Stateful.dropDupsWithinWatermark(df, Seq("id"), "ts", "10 seconds")
      .writeStream.format("memory").queryName("ddw").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:01")
      ms.addData(("a", t0, 1.0), ("a", t0, 1.0), ("b", t0, 2.0))
      q.processAllAvailable()
      ms.addData(("a", Timestamp.valueOf("2024-01-01 00:00:03"), 9.9)) // dup within watermark
      q.processAllAvailable()
      assert(spark.table("ddw").count() == 2) // a once, b once
    } finally q.stop()
  }

  test("upsertDeltas telescopes to latest value per key") {
    val in = Seq(
      VersionedAmount("o1", 1L, 100L),
      VersionedAmount("o1", 2L, 130L), // re-emission: delta +30
      VersionedAmount("o1", 3L, 120L), // correction: delta -10
      VersionedAmount("o2", 1L, 50L)).toDS()
    val out = Stateful.upsertDeltas(in).collect()
    val sums = out.groupBy(_.key).view.mapValues(_.map(_.delta).sum).toMap
    assert(sums == Map("o1" -> 120L, "o2" -> 50L)) // sum of deltas = latest value
    assert(out.length == 4)
  }

  test("upsertDeltas ignores stale out-of-order versions") {
    val in = Seq(
      VersionedAmount("o1", 5L, 200L),
      VersionedAmount("o1", 3L, 999L)). // stale: arrives after newer version
      toDS()
    val out = Stateful.upsertDeltas(in).collect()
    assert(out.map(_.delta).sum == 200L)
  }
}
