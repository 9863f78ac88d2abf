package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.core.{DimRegistry, Mv, MvAgg, MvDef, MvRegistry}

/** Registry session isolation (r7 verdict #3): DimRegistry, MvRegistry
  * and the dedup cache slots are keyed by sessionUUID, so two
  * concurrent SparkSessions in one JVM — the multi-tenant shape a
  * long-running driver actually runs — cannot cross-contaminate: one
  * session's MV/dim declarations must never rewrite or re-plan the
  * other's queries.
  */
class SessionScopeSpec extends SparkSpec {
  import spark.implicits._

  private val srcDir = Files.createTempDirectory("ss_src").toString + "/fact.parquet"
  private val mvDir = Files.createTempDirectory("ss_mv").toString + "/rollup.parquet"

  private lazy val mvDef: MvDef = {
    (0 until 2000).map(i => (s"k${i % 5}", i % 100))
      .toDF("k1", "vi").write.mode("overwrite").parquet(srcDir)
    val d = MvDef("ss_rollup", srcDir, mvDir,
      dims = Seq("k1"), aggs = Seq(MvAgg("sum", "vi", "sum_vi")))
    Mv.build(spark, d)
    d
  }

  private def leafPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
      case _ => Nil
    }

  private def aggQuery(s: SparkSession): DataFrame =
    s.read.parquet(srcDir).groupBy(col("k1")).agg(sum(col("vi")).as("sum_vi"))

  test("MV registration in one session never rewrites the other session's plans " +
       "(and both answer correctly under concurrent planning)") {
    val d = mvDef
    val other = spark.newSession()
    MvRegistry.register(spark, d)
    try {
      // concurrent planning from both sessions — interleaved on two
      // threads so a shared registry would race/cross-serve
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val runs = Future.sequence((1 to 8).map { i =>
        Future {
          val (s, expectMv) = if (i % 2 == 0) (spark, true) else (other, false)
          val leaves = leafPaths(aggQuery(s))
          (expectMv, leaves)
        }
      })
      val results = Await.result(runs, 60.seconds)
      pool.shutdown()
      for ((expectMv, leaves) <- results) {
        if (expectMv) {
          assert(leaves.exists(_.contains("rollup.parquet")),
            s"registered session lost its rewrite: $leaves")
          assert(!leaves.exists(_.contains("fact.parquet")),
            s"registered session still scans the fact: $leaves")
        } else {
          assert(leaves.exists(_.contains("fact.parquet")),
            s"unregistered session must scan the fact: $leaves")
          assert(!leaves.exists(_.contains("rollup.parquet")),
            s"MV registration LEAKED across sessions: $leaves")
        }
      }
      // both answers identical (the rewrite is transparent where it applies)
      val a = aggQuery(spark).collect().map(_.mkString("|")).sorted.toSeq
      val b = aggQuery(other).collect().map(_.mkString("|")).sorted.toSeq
      assert(a == b)
    } finally MvRegistry.clear(spark)
  }

  test("dim registration in one session never hints the other session's joins") {
    val other = spark.newSession()
    val dimPath = s"$sf/nation.parquet"
    // kill every size-based broadcast so ONLY the registry can produce a
    // BHJ — the cleanest leak detector
    for (s <- Seq(spark, other)) {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
    }
    DimRegistry.register(spark, dimPath)
    try {
      def joinPlan(s: SparkSession): String = {
        val sup = s.read.parquet(s"$sf/supplier.parquet")
        val n = s.read.parquet(dimPath)
        sup.join(n, col("s_nationkey") === col("n_nationkey"))
          .queryExecution.executedPlan.toString
      }
      assert(joinPlan(spark).contains("BroadcastHashJoin"),
        "registered session must broadcast the declared dim")
      assert(!joinPlan(other).contains("BroadcastHashJoin"),
        "dim registration LEAKED: unregistered session got a broadcast hint")
    } finally {
      DimRegistry.unregister(spark, dimPath)
      for (s <- Seq(spark, other)) {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L * 1024 * 1024).toString)
        s.conf.set("spark.sql.adaptive.enabled", "true")
      }
    }
  }

  test("each registry keeps MaxSessions sessions and drops the least recently touched") {
    // DimRegistry.MaxSessions caps both registries
    val d = mvDef
    val registries = Seq[(String, SparkSession => Unit, SparkSession => Boolean)](
      ("DimRegistry", DimRegistry.register(_, s"$sf/nation.parquet"), DimRegistry.isEmpty),
      ("MvRegistry", MvRegistry.register(_, d), MvRegistry.isEmpty))
    for ((name, register, isEmpty) <- registries) {
      val sessions = (0 to DimRegistry.MaxSessions).map(_ => spark.newSession())
      sessions.init.foreach(register)
      // touching the first registered session leaves the second the eldest
      assert(!isEmpty(sessions(0)), name)
      register(sessions.last)
      assert(!isEmpty(sessions(0)) && !isEmpty(sessions.last), name)
      assert(isEmpty(sessions(1)), s"$name kept its least recently touched session")
      assert(sessions.drop(2).forall(s => !isEmpty(s)), name)
    }
  }
}
