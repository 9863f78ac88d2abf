package graft.io

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import graft.{JobLog, SparkSpec}

/** Reads of file lists graft already knows go through
  * [[org.apache.spark.sql.graft.ManifestScan]]: building the read runs
  * no Spark job however many files it names (Spark's own file index runs
  * a listing job past 32 paths), a batch-id predicate on merge-on-read
  * deltas prunes whole batches, and two reads of one snapshot are one
  * relation to the planner while two snapshots never are.
  */
class ManifestScanSpec extends SparkSpec {
  import spark.implicits._

  private val buckets = 40

  private def rows(ver: Long, n: Int = 400): DataFrame =
    (0 until n).toDF("i").select(concat(lit("k"), col("i")).as("id"),
      lit(ver).as("ver"), (col("i") * ver).as("v"))

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case _ => p +: p.children.flatMap(leaves)
  }

  test("an Upsert.read and a MergeOnRead.read of more than 32 live files run no job before their action") {
    val cow = Files.createTempDirectory("mscan_cow").toString
    Upsert.merge(spark, cow, rows(1), Seq("id"), "ver", numBuckets = buckets)
    assert(Upsert.currentManifest(spark, cow).get.allFiles.size > 32)
    val mor = Files.createTempDirectory("mscan_mor").toString + "/t"
    MergeOnRead.merge(spark, mor, rows(1))
    MergeOnRead.compact(spark, mor, Seq("id"), "ver", numBuckets = buckets)
    MergeOnRead.merge(spark, mor, rows(2, 10))
    assert(Upsert.currentManifest(spark, s"$mor/base").get.allFiles.size > 32)
    JobLog.around(spark) { log =>
      log.clear()
      val c = Upsert.read(spark, cow)
      val m = MergeOnRead.read(spark, mor, Seq("id"), "ver")
      assert(log.jobs().isEmpty, s"building the reads ran ${log.jobs().size} jobs")
      assert(c.count() == 400 && m.count() == 400)
      assert(m.filter($"id" === "k3").select("v").as[Long].collect().toSeq == Seq(6L))
    }
  }

  test("a batch-id predicate on readDeltaBatches reads only the matching batches' files") {
    val dir = Files.createTempDirectory("mscan_delta").toString + "/t"
    (1L to 3L).foreach(v => MergeOnRead.merge(spark, dir, rows(v, 50).repartition(3)))
    val batches = MergeOnRead.deltaBatches(spark, dir)
    val fs = FsOps.fs(spark, new org.apache.hadoop.fs.Path(dir))
    def filesOf(p: String) = graft.sources.MorChangeFeedSource.dataFiles(
      fs.listStatus(new org.apache.hadoop.fs.Path(p)).toSeq).size
    val (id1, dir1) = batches(1)
    val df = MergeOnRead.readDeltaBatches(spark, batches)
      .filter(col(MergeOnRead.BatchCol) === id1)
    assert(df.collect().map(_.getAs[Long]("ver")).toSet == Set(2L))
    val scans = leaves(df.queryExecution.executedPlan).collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1 && scans.head.partitionFilters.nonEmpty)
    val total = batches.map(b => filesOf(b._2)).sum
    assert(filesOf(dir1) < total)
    assert(scans.head.metrics("numFiles").value == filesOf(dir1),
      s"read ${scans.head.metrics("numFiles").value} files, batch ${id1} has ${filesOf(dir1)} of $total")
  }

  test("two reads of one snapshot are one relation; a read after a merge is not") {
    val dir = Files.createTempDirectory("mscan_eq").toString
    Upsert.merge(spark, dir, rows(1, 100), Seq("id"), "ver", numBuckets = 4)
    val a = Upsert.read(spark, dir)
    val b = Upsert.read(spark, dir)
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    assert(a.queryExecution.executedPlan.sameResult(b.queryExecution.executedPlan))

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = a.as("x").join(b.as("y"), $"x.id" === $"y.id")
      val plan = j.queryExecution.executedPlan
      assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty,
        s"the self-join of one snapshot must reuse its exchange:\n$plan")
      assert(j.count() == 100)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }

    Upsert.merge(spark, dir, rows(2, 10), Seq("id"), "ver", numBuckets = 4)
    val after = Upsert.read(spark, dir)
    assert(!a.queryExecution.analyzed.sameResult(after.queryExecution.analyzed),
      "a read before a merge must not match one after it")
    assert(after.filter($"id" === "k3").select("v").as[Long].collect().toSeq == Seq(6L))
  }
}
