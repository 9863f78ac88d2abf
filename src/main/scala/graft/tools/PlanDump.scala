package graft.tools

/** Diagnostic: print the normalized final physical plan of named
  * queries plus the sorted canonical form [[PlanCanon]] hashes (and
  * the hash itself) so cross-run `plan_sha` instability can be diffed
  * down to its cause. The session is [[Profile]]'s
  * ([[graft.core.GraftSession.benchBuilder]]), so at one
  * `SPARK_GRAFT_CPUS` the sha printed here is the `plan_sha` Profile
  * and Bench report.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.benchBuilder().getOrCreate()
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
