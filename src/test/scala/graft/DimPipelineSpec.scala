package graft

import java.nio.file.Files
import graft.streaming.{DimConfig, DimPipeline}

class DimPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = Seq(
    DimConfig("base_dic", "dim_base_dic", Seq("dic_code", "dic_name"), "dic_code"),
    DimConfig("sku_info", "dim_sku_info", Seq("id", "sku_name", "price"), "id"))

  private def cdc(rows: (String, String, Long, Map[String, String])*) =
    rows.map { case (table, op, ts, data) =>
      val dataJson = data.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
      s"""{"database":"gmall","table":"$table","type":"$op","ts":$ts,"data":$dataJson}"""
    }.toDF("value")

  test("config-driven routing: insert, column pruning, update last-wins, delete") {
    val wh = Files.createTempDirectory("dimwh").toString
    // batch 1: inserts (sku has an extra column that must be pruned)
    val b1 = DimPipeline.parseCdc(cdc(
      ("base_dic", "insert", 1L, Map("dic_code" -> "1001", "dic_name" -> "pending")),
      ("base_dic", "insert", 1L, Map("dic_code" -> "1002", "dic_name" -> "paid")),
      ("sku_info", "insert", 1L, Map("id" -> "s1", "sku_name" -> "phone", "price" -> "99", "secret" -> "x")),
      ("other_table", "insert", 1L, Map("id" -> "z")), // no config: dropped
      ("base_dic", "bootstrap-start", 1L, Map("a" -> "b")))) // etl-filtered
    val counts1 = DimPipeline.processBatch(spark, b1, cfg, wh)
    assert(counts1 == Map("dim_base_dic" -> 2L, "dim_sku_info" -> 1L))
    val sku1 = graft.io.Upsert.read(spark, s"$wh/dim_sku_info")
    assert(sku1.columns.toSet == Set("id", "sku_name", "price", "__op", "__ts")) // pruned
    // batch 2: update + delete
    val b2 = DimPipeline.parseCdc(cdc(
      ("base_dic", "update", 2L, Map("dic_code" -> "1001", "dic_name" -> "PENDING")),
      ("sku_info", "delete", 2L, Map("id" -> "s1", "sku_name" -> "phone", "price" -> "99"))))
    DimPipeline.processBatch(spark, b2, cfg, wh)
    val dic = graft.io.Upsert.read(spark, s"$wh/dim_base_dic")
      .select("dic_code", "dic_name").as[(String, String)].collect().toMap
    assert(dic == Map("1001" -> "PENDING", "1002" -> "paid")) // last-wins
    assert(graft.io.Upsert.read(spark, s"$wh/dim_sku_info").count() == 0) // deleted

    // config evolution (the reference's own workflow: the
    // table_process_dim column whitelist gains a field): the widened
    // config applies on the next batch, old rows surface NULL
    val cfg2 = Seq(DimConfig("base_dic", "dim_base_dic",
      Seq("dic_code", "dic_name", "parent_code"), "dic_code"))
    val b3 = DimPipeline.parseCdc(cdc(
      ("base_dic", "insert", 3L, Map("dic_code" -> "1003",
        "dic_name" -> "shipped", "parent_code" -> "10"))))
    DimPipeline.processBatch(spark, b3, cfg2, wh)
    val evolved = graft.io.Upsert.read(spark, s"$wh/dim_base_dic")
      .select("dic_code", "parent_code").as[(String, String)].collect().toMap
    assert(evolved("1003") == "10")
    assert(evolved("1001") == null, "pre-evolution rows surface NULL for the new column")

    // a pipeline-managed dim is auto-registered dim-scale: joins against
    // it broadcast even with size-estimate broadcast disabled — the
    // manifest scan's leaf paths are FILES under the table dir, so this
    // also pins DimRegistry's ancestor matching
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val fact = Seq(("1001", 10L), ("1002", 20L)).toDF("dic_code", "amount")
      val p = fact.join(graft.io.Upsert.read(spark, s"$wh/dim_base_dic"), "dic_code")
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"managed dim must auto-broadcast:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L * 1024 * 1024).toString)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      graft.core.DimRegistry.unregister(spark, s"$wh/dim_base_dic")
      graft.core.DimRegistry.unregister(spark, s"$wh/dim_sku_info")
    }
  }
}
