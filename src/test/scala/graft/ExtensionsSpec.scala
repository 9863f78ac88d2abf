package graft

import graft.core.GraftFunctions

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("native functions usable from pure SQL after registration") {
    GraftFunctions.register(spark)
    graft.io.Tables.documents(spark, sf).createOrReplaceTempView("docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash64(split(text, ' ')) AS simhash FROM docs")
      .as[(Long, Long)].collect().toMap
    val viaApi = graft.llm.Dedup.simhashSignatures(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(viaSql == viaApi)
  }

  test("graft_cjk_tokens segments mixed text: bigram CJK runs, whole latin runs") {
    GraftFunctions.register(spark)
    val toks = spark.sql(
      """SELECT graft_cjk_tokens('buy苹果手机 now  雪') AS t""")
      .as[Seq[String]].head()
    assert(toks == Seq("buy", "苹果", "果手", "手机", "now", "雪"))
    // pure whitespace text degrades to plain word split (no empties)
    val en = spark.sql("SELECT graft_cjk_tokens(' spark  engine ') AS t")
      .as[Seq[String]].head()
    assert(en == Seq("spark", "engine"))
  }

  test("SQL similarity pipeline composes from registered functions") {
    GraftFunctions.register(spark)
    graft.io.Tables.embeddings(spark, sf).createOrReplaceTempView("emb")
    val rows = spark.sql(
      """SELECT a.vec_id ida, b.vec_id idb,
                graft_dot_long(graft_quantize_vec(a.embedding, 1000),
                               graft_quantize_vec(b.embedding, 1000)) AS dot
         FROM emb a JOIN emb b ON a.vec_id = 0 AND b.vec_id = 1""")
      .collect()
    assert(rows.length == 1)
    // cross-check against the Column API
    import graft.functions.functions._
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.embeddings(spark, sf)
      .select(col("vec_id"), quantize_vec(col("embedding"), 1000).as("q"))
    val q0 = e.filter(col("vec_id") === 0).select("q")
    val q1 = e.filter(col("vec_id") === 1).select(col("q").as("q2"))
    val apiDot = q0.crossJoin(q1).select(dot_long(col("q"), col("q2"))).as[Long].head()
    assert(rows.head.getAs[Long]("dot") == apiDot)
  }

  test("DimBroadcastRule: registered dims broadcast when size estimates can't; " +
       "unregistered tables and explicit hints are untouched") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.core.DimRegistry
    val nation = graft.io.Tables.nation(spark, sf)
    val customer = graft.io.Tables.customer(spark, sf)
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try df.queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // def, not val: executedPlan memoizes per DataFrame, and the point
      // is to observe the SAME query plan differently before/after registration
      def join = customer.join(nation, col("c_nationkey") === col("n_nationkey"))
      // threshold disabled, nothing registered: planner must sort-merge
      assert(planOf(join).contains("SortMergeJoin"), "precondition: no broadcast path")
      DimRegistry.register(spark, s"$sf/nation.parquet")
      assert(planOf(join).contains("BroadcastHashJoin"), "registered dim must broadcast")
      // a dim-derived subtree (distinct/projection) inherits the property
      val derived = customer.join(
        nation.select(col("n_nationkey")).distinct(),
        col("c_nationkey") === col("n_nationkey"))
      assert(planOf(derived).contains("BroadcastHashJoin"), "dim subtree must broadcast")
      // an explicit user hint on either side wins: the rule fills only empty slots
      val hinted = broadcast(customer).join(nation, col("c_nationkey") === col("n_nationkey"))
      val p = planOf(hinted)
      assert(p.contains("BroadcastHashJoin") &&
        "BroadcastExchange".r.findAllIn(p).size == 1, s"explicit hint must win:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L * 1024 * 1024).toString)
      DimRegistry.unregister(spark, s"$sf/nation.parquet")
    }
  }

  test("planner strategies install once through GraftExtensions; no head mutates " +
       "the session's experimental hooks") {
    import graft.plans.{AsOfJoinStrategy, OrderedGuardStrategy}
    val strategies = spark.sessionState.planner.strategies
    assert(strategies.exists(_.isInstanceOf[AsOfJoinStrategy]))
    assert(strategies.exists(_.isInstanceOf[OrderedGuardStrategy]))
    Seq("j_asof_join", "j_asof_join_exec", "j5_sku_chain_auto", "mv_rollup_rewrite")
      .foreach(h => SparkEntry.queries(h)(spark, sf).queryExecution.toRdd.count())
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("a session whose planner lacks a graft strategy is refused up front") {
    val e = intercept[UnsupportedOperationException](
      graft.core.GraftExtensions.requireStrategy(spark, classOf[String], "string plans"))
    assert(e.getMessage.contains("spark.sql.extensions=graft.core.GraftExtensions"), e.getMessage)
  }
}
