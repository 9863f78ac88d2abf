package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.streaming.Leaderboard

/** Streaming top-N per group (VERDICT r5 #5): window finals folded
  * into the DWS day aggregate, leaderboard ranked from it per batch —
  * finals must equal the ORACLED batch operator (a_topn_per_group's
  * shape) over the same waves.
  */
class LeaderboardSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1704067200000L // 2024-01-01 00:00:00 UTC

  /** Wave = one day's events at noon (so the next wave's watermark,
    * noon − 1 h, is past this day's window end): three groups, three
    * events each, deterministic values that differ across days.
    */
  private def rows(day: Int): Seq[(Long, String, Double)] = {
    val noon = t0 + day * 86400000L + 43200000L
    Seq("click", "purchase", "signup").flatMap(et =>
      (0 to 2).map(j =>
        (noon + j * 1000L, et, ((day * 7 + j * 3 + et.length) % 23) + 0.5)))
  }

  test("streaming leaderboard == batch top-N twin over the same waves") {
    val root = Files.createTempDirectory("leaderboard").toString
    val in = s"$root/in"
    Files.createDirectories(Paths.get(in))
    val schema = new StructType()
      .add("ts", "long").add("event_type", "string").add("value", "double")
    val stream = spark.readStream.schema(schema).json(in)
      .withColumn("event_time", timestamp_millis(col("ts")))
    val q = Leaderboard.dailyFinals(stream)
      .writeStream.option("checkpointLocation", s"$root/ck")
      .foreachBatch { (b: DataFrame, id: Long) =>
        Leaderboard.fold(spark, root, b, id); ()
      }.start()

    val all = scala.collection.mutable.Buffer.empty[(Long, String, Double)]
    (0 to 6).foreach { d =>
      val rs = rows(d); all ++= rs
      Files.write(Paths.get(s"$in/wave-$d.json"),
        rs.map { case (ts, et, v) =>
          s"""{"ts":$ts,"event_type":"$et","value":$v}"""
        }.mkString("\n").getBytes)
      q.processAllAvailable()
    }
    // flush: one far-future event closes every real window; its own
    // never-finalized group is excluded from the comparison
    Files.write(Paths.get(s"$in/wave-flush.json"),
      s"""{"ts":${t0 + 999L * 86400000L},"event_type":"__flush","value":0.0}""".getBytes)
    q.processAllAvailable()
    q.stop()

    val streamed = Leaderboard.current(spark, root).get
      .filter(col("event_type") =!= "__flush")
      .select("event_type", "day", "day_cents", "rnk")
      .as[(String, String, Long, Long)].collect().toSet
    val batchAgg = all.toSeq.toDF("ts", "event_type", "value")
      .groupBy(col("event_type"),
        to_date(timestamp_millis(col("ts"))).cast("string").as("day"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("day_cents"))
    val expected = graft.ops.Relational.topNPerGroupDf(batchAgg)
      .select("event_type", "day", "day_cents", "rnk")
      .as[(String, String, Long, Long)].collect().toSet

    assert(streamed.nonEmpty, "leaderboard must have finalized rows")
    assert(streamed.map(_._1) == Set("click", "purchase", "signup"))
    assert(streamed == expected,
      s"streaming leaderboard diverged:\n stream=$streamed\n batch=$expected")
    // top-3 of 7 days per group — the rank actually cut something
    assert(streamed.size == 9, s"expected 3 groups × top-3, got ${streamed.size}")
  }

  /** A running leaderboard over JSON waves under `root/in`. */
  private def start(root: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = new StructType()
      .add("ts", "long").add("event_type", "string").add("value", "double")
    Files.createDirectories(Paths.get(s"$root/in"))
    val stream = spark.readStream.schema(schema).json(s"$root/in")
      .withColumn("event_time", timestamp_millis(col("ts")))
    Leaderboard.dailyFinals(stream)
      .writeStream.option("checkpointLocation", s"$root/ck")
      .foreachBatch { (b: DataFrame, id: Long) =>
        Leaderboard.fold(spark, root, b, id); ()
      }.start()
  }

  private def land(root: String, name: String, rs: Seq[(Long, String, Double)]): Unit = {
    Files.write(Paths.get(s"$root/in/$name.json"),
      rs.map { case (ts, et, v) =>
        s"""{"ts":$ts,"event_type":"$et","value":$v}"""
      }.mkString("\n").getBytes)
    ()
  }

  /** Top-N over the days whose windows closed among `all`'s days. */
  private def twin(all: Seq[(Long, String, Double)], days: Set[String]) = {
    val batchAgg = all.toDF("ts", "event_type", "value")
      .groupBy(col("event_type"),
        to_date(timestamp_millis(col("ts"))).cast("string").as("day"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("day_cents"))
      .filter(col("day").isin(days.toSeq: _*))
    graft.ops.Relational.topNPerGroupDf(batchAgg)
      .select("event_type", "day", "day_cents", "rnk")
      .as[(String, String, Long, Long)].collect().toSet
  }

  private def served(root: String) = Leaderboard.current(spark, root).get
    .select("event_type", "day", "day_cents", "rnk")
    .as[(String, String, Long, Long)].collect().toSet

  private def topGen(root: String): Long =
    graft.io.Upsert.currentManifest(spark, s"$root/topn").get.gen

  private def day(d: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong).toString

  /** The same day's events three hours later: the watermark moves, but
    * not past any open day, so no window closes.
    */
  private def lateSameDay(d: Int) = rows(d).map { case (ts, et, v) =>
    (ts + 3 * 3600000L, et, v + 1.0) }

  test("a trigger with no finals runs one job and leaves the top-N generation unchanged") {
    val root = Files.createTempDirectory("leaderboard_jobs").toString
    val q = start(root)
    try {
      (0 to 2).foreach { d => land(root, s"wave-$d", rows(d)); q.processAllAvailable() }
      val gen = topGen(root)
      graft.JobLog.around(spark) { log =>
        val before = q.lastProgress.batchId
        land(root, "late-2", lateSameDay(2))
        q.processAllAvailable()
        val jobs = log.perBatch(q.id).filter(_._1 > before)
        assert(jobs.nonEmpty, "the wave must run a trigger")
        assert(jobs.values.forall(_ == 1), s"jobs per no-finals trigger: $jobs")
      }
      assert(topGen(root) == gen, "no finals: the top-N must not be rewritten")
      assert(served(root) == twin(rows(0) ++ rows(1), Set(day(0), day(1))))
    } finally q.stop()
  }

  test("a refresh lost after its merge is redone by the next trigger after a restart") {
    val root = Files.createTempDirectory("leaderboard_lost").toString
    val q1 = start(root)
    try (0 to 3).foreach { d => land(root, s"wave-$d", rows(d)); q1.processAllAvailable() }
    finally q1.stop()
    // the crash window: day 2's finals merged into the day aggregate,
    // but the top-N ranked from it never committed
    val top = Paths.get(s"$root/topn")
    val newest = Files.list(top).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_manifest-")).toSeq.max
    Files.delete(top.resolve(newest))
    val all = (0 to 3).flatMap(rows) ++ lateSameDay(3)
    val closed = Set(day(0), day(1), day(2))
    assert(served(root) != twin(all, closed), "the lost refresh must be visible")
    // restart; the next wave closes no day, so its triggers carry no finals
    land(root, "late-3", lateSameDay(3))
    val q2 = start(root)
    try q2.processAllAvailable() finally q2.stop()
    assert(served(root) == twin(all, closed))
  }
}
