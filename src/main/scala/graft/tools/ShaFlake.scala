package graft.tools
import scala.util.chaining._
import org.apache.spark.sql.SparkSession
object ShaFlake {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("dedup_minhash_lsh")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .pipe(graft.core.GraftSession.engineConfs).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    val seen = scala.collection.mutable.Map[String, String]()
    (1 to 6).foreach { i =>
      val qe = fn(spark, "/root/testdata/sf0.1").queryExecution
      qe.toRdd.count()
      val plan = qe.executedPlan.toString
      val h = PlanCanon.sha(plan)
      println(s"flake] run $i sha=$h")
      seen.getOrElseUpdate(h, PlanCanon.canonical(plan))
      spark.catalog.clearCache()
    }
    if (seen.size > 1) {
      seen.zipWithIndex.foreach { case ((h, c), i) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"/tmp/canon_$h.txt"), c)
        println(s"flake] wrote /tmp/canon_$h.txt")
      }
    }
    spark.stop()
  }
}
