package graft.tools

import scala.util.chaining._
import org.apache.spark.sql.SparkSession
import graft.ops.TpcH

/** One-off diagnostic main for the q18 bench outlier (VERDICT r2 #3):
  * prints the AQE final plan and per-run wall times at the bench SF.
  */
object ExplainQ18 {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .pipe(graft.core.GraftSession.engineConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up
    TpcH.q18LargeOrders(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count()
    (1 to 4).foreach { i =>
      val t0 = System.nanoTime()
      val df = TpcH.q18LargeOrders(spark, sfDir)
      df.queryExecution.toRdd.count()
      println(f"q18] run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      if (i == 1) println("q18] final plan:\n" + df.queryExecution.executedPlan.toString)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
