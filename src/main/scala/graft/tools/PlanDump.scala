package graft.tools

import scala.util.chaining._
import org.apache.spark.sql.SparkSession

/** Diagnostic: print the normalized final physical plan of named
  * queries plus the sorted canonical form [[PlanCanon]] hashes (and
  * the hash itself) so cross-run `plan_sha` instability can be diffed
  * down to its cause — same pipeline as Bench, by construction.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "true")
      .pipe(graft.core.GraftSession.engineConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
      qe.toRdd.count()
      val plan = qe.executedPlan.toString
      println(s"===== $name  plan_sha=${PlanCanon.sha(plan)} =====")
      println(PlanCanon.normalize(plan))
      println(s"----- $name canonical (the hashed string) -----")
      println(PlanCanon.canonical(plan))
    }
    spark.stop()
  }
}
