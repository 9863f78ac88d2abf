package graft

import scala.util.chaining._
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of a registered query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .pipe(graft.core.GraftSession.engineConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sf)
    df.explain("formatted")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sf).count()
      println(s"[explain] run$i rows=$n time=${(System.nanoTime() - t0) / 1e9}s")
    }
    spark.stop()
  }
}
