package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables

/** TPC-H-style headline queries over the driver's star schema — the
  * benchmark heads that exercise the scan→filter→join→agg spine at
  * sf0.1 and are the shapes that dominate at 100 TB.
  *
  * Scale notes: q1 is a pure scan+partial-agg (no shuffle besides the
  * 6-group final merge); q3/q5 shuffle facts on their join keys once and
  * hint-broadcast only the bounded dims (nation, region, filtered part,
  * one-row stats) — SF-proportional sides (customer, supplier, full
  * part) carry NO hint, so AQE converts them to broadcast at small SF
  * while a 100 TB plan degrades to shuffle joins instead of OOMing;
  * all money math is integer cents so results
  * are bit-exact vs the DuckDB oracle.
  */
object TpcH {

  private def cents(c: Column): Column = floor(c * 100).cast("long")

  /** Q1-style pricing summary: scan + wide aggregate, 6 output groups. */
  def q1Pricing(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
        count(lit(1)).as("count_order"))

  /** Q3-style shipping priority: dim-filtered 3-way join, per-order revenue. */
  def q3Shipping(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
  }

  /** Q7-style nation-pair volume: fact join + two dim legs on
    * different keys, grouped by (supplier nation, customer nation,
    * ship year). Exercises multi-alias dim reuse (nation joined twice).
    */
  def q7Volume(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n1 = broadcast(Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(spark, sfDir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("volume_cents"))
  }

  /** Q18-style large-volume customers: aggregate-then-semi-join —
    * orders whose total quantity exceeds a threshold, with customer
    * context. The HAVING subquery becomes a filtered aggregate joined
    * back to the facts (no correlated subquery at scale).
    */
  def q18LargeOrders(spark: SparkSession, sfDir: String, minQty: Long = 150L): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("total_qty"))
  }

  /** Q10-style returned-item report: which customers returned goods in
    * a quarter, ranked by lost revenue. Date-filtered fact join
    * (pushdown on o_orderdate + l_returnflag reaches both scans),
    * nation broadcast (customer unhinted — AQE decides), one agg shuffle on custkey.
    */
  def q10Returns(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    val c = Tables.customer(spark, sfDir)
    val n = broadcast(Tables.nation(spark, sfDir))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        cents(col("c_acctbal")).as("acctbal_cents"), col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
  }

  /** Q14-style promo revenue share: two-table join + conditional
    * aggregate — the promo fraction as ONE pass over the joined facts
    * (sum(if)/sum, both integer cents; the division is a single
    * int/int IEEE op so the ratio is bit-exact vs the oracle).
    */
  def q14PromoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val p = Tables.part(spark, sfDir)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type").startsWith("PROMO"),
          cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).otherwise(0L))
          .as("promo_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("total_cents"))
      .withColumn("promo_share",
        col("promo_cents").cast("double") / col("total_cents").cast("double"))
  }

  /** Q6-style forecast revenue: the pure pushdown head — three
    * range predicates (shipdate year, discount band, quantity cap) and
    * NO join; every filter must reach the parquet scan (`PushedFilters`)
    * and the whole query is one scan + one single-group aggregate.
    * At 100 TB this is the shape where pushdown is the entire game:
    * with date-partitioned data the year predicate prunes partitions
    * and the scan reads 4 of 11 columns.
    */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("line_ct"))

  /** Build-once (source-keyed on the lineitem files' metadata, like the
    * events serving snapshots) Z-ORDERED [[graft.io.Upsert]] snapshot of
    * lineitem, interleaved on (l_shipdate, l_discount) with zone
    * sidecars on both — the fact-path data-skipping layout behind
    * [[q6ZonesForecast]]. Linear ship-date clustering would serve the
    * date slice alone; the Morton layout lets the discount band prune
    * MULTIPLICATIVELY on the same files (rectangle reads — the
    * `OPTIMIZE ZORDER BY` role on bare parquet). Returns the table root.
    */
  def zonesLineitemEnsure(spark: SparkSession, sfDir: String): String =
    Tables.ensureBuilt(spark, "target/zones/lineitem_z_", sfDir,
      source = "lineitem.parquet",
      recipe = "zorder(l_shipdate,l_discount) zones v1") { root =>
      // normalize the NTZ parquet timestamp to session-TZ TimestampType
      // (sessions pin UTC — the events-snapshot precedent) so the zone
      // sidecar machinery covers it; then rank it through an
      // epoch-seconds twin that is layout-input only (never stored)
      val norm = Tables.lineitem(spark, sfDir).withColumn("l_shipdate",
        col("l_shipdate").cast(org.apache.spark.sql.types.TimestampType))
      val num = norm.withColumn("__ship_sec", col("l_shipdate").cast("long"))
      val z = num
        .withColumn("__zorder", graft.io.Zorder.zvalue(num, "__ship_sec", "l_discount"))
        .drop("__ship_sec")
      graft.io.Upsert.overwriteSnapshot(spark, root, z,
        zoneCols = Seq("l_shipdate", "l_discount"),
        clusterBy = Seq("__zorder"), filesTarget = 40)
    }

  /** Q6 served from the Z-ordered lineitem snapshot via a driver-side
    * RECTANGLE prune ([[graft.io.Upsert.readRanges]]): the manifest's
    * file list is narrowed by BOTH the ship-date year and the discount
    * band before any task launches, then the exact q6 predicates
    * re-apply over the kept files (zones only prune — never a superset,
    * never a lost row). Same oracle as `q6_forecast`, so a green row
    * proves the skipping stack is exact on the FACT table; at 100 TB
    * this is the difference between scanning seven years of lineitem
    * and opening ~1/20th of its files. ZonesSpec pins files_kept ≪
    * files_total for this layout shape.
    */
  def q6ZonesForecast(spark: SparkSession, sfDir: String): DataFrame = {
    val root = zonesLineitemEnsure(spark, sfDir)
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("1996-01-01T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("1997-01-01T00:00:00Z"))
    graft.io.Upsert.readRanges(spark, root, Seq(
        ("l_shipdate", Some(lo), Some(hi)),
        ("l_discount", Some(0.05), Some(0.07))))
      // the closed zone range is a one-instant superset at the upper
      // date edge; the strict predicate restores exact q6 semantics
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_quantity") < 24)
      .agg(sum(cents(col("l_extendedprice") * col("l_discount"))).as("revenue_cents"),
        count(lit(1)).as("line_ct"))
  }

  /** Q4-style priority check: EXISTS as a LEFT SEMI join — orders in a
    * quarter having at least one returned line. The semi join keeps the
    * probe side duplicate-free without a distinct shuffle; at scale the
    * returned-lines side shuffles once on orderkey (it is too big to
    * broadcast), the orders side arrives filtered by the date pushdown.
    */
  def q4PriorityExists(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val returned = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    o.join(returned, col("o_orderkey") === col("l_orderkey"), "leftsemi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_ct"))
  }

  /** Q8-style market share: for customers in one region, the fraction
    * of yearly revenue delivered by LOCAL suppliers (supplier nation =
    * customer nation — the reduced schema has no p_type nation split).
    * Conditional aggregate over the joined facts; the share division is
    * one int/int IEEE op so it is bit-exact vs the oracle.
    */
  def q8MarketShare(spark: SparkSession, sfDir: String, region: String = "ASIA"): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = broadcast(Tables.nation(spark, sfDir))
    val r = broadcast(Tables.region(spark, sfDir).filter(col("r_name") === region))
    val rev = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("s_nationkey") === col("c_nationkey"), rev).otherwise(0L))
          .as("local_cents"),
        sum(rev).as("total_cents"))
      .withColumn("local_share",
        col("local_cents").cast("double") / col("total_cents").cast("double"))
  }

  /** Q12-style shipping-lag audit: date arithmetic in the join filter —
    * lines shipped more than 90 days after the order date, counted per
    * order priority. One fact-fact join shuffled on orderkey, then a
    * 5-group conditional aggregate (no second shuffle beyond the final
    * merge).
    */
  def q12LateShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
          .otherwise(0L)).as("late_ct"),
        count(lit(1)).as("line_ct"))
  }

  /** Q13-style customer order-count distribution: LEFT OUTER join so
    * order-less customers survive with count 0, then a second aggregate
    * over the first (the histogram). The outer join shuffles both sides
    * on custkey; the histogram's input is one row per customer, so its
    * shuffle is tiny.
    */
  def q13CustDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(col("o_orderpriority") =!= "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** Q15-style top supplier: scalar MAX subquery — revenue per supplier
    * over a quarter, keep the supplier(s) achieving the maximum.
    * The max is a one-row aggregate broadcast back over the per-supplier
    * revenues (never a window over a single global partition, which
    * would serialize at scale); ties all survive, so the result is
    * deterministic without an arbitrary pick.
    */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("total_rev_cents"))
    val maxRev = rev.agg(max(col("total_rev_cents")).as("max_rev_cents"))
    rev.join(broadcast(maxRev), col("total_rev_cents") === col("max_rev_cents"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_cents"))
  }

  /** Q16-style supplier variety: NOT IN as a LEFT ANTI join. The supply
    * relation is the distinct (part, supplier) projection of lineitem
    * (the reduced schema has no partsupp); suppliers in deficit
    * (negative balance — the complaint stand-in) are anti-joined away
    * BEFORE the distinct shuffle, then supplier variety is counted per
    * (brand, type, size). The anti side is unhinted: AQE broadcasts it
    * at bench SF; at 100 TB it degrades to a shuffled anti join.
    */
  def q16SupplierVariety(spark: SparkSession, sfDir: String): DataFrame = {
    val supply = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
    val deficit = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    // The part slice is SF-proportional (~19% of part survives the
    // type/size filter), so it carries NO hint: AQE converts the join
    // to broadcast at bench SF, and at 100 TB it degrades to SMJ
    // instead of OOMing a forced build side.
    val p = Tables.part(spark, sfDir)
      .filter(col("p_type") =!= "PROMO" && col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49))
    supply.join(deficit, col("l_suppkey") === col("s_suppkey"), "leftanti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** Q17-style small-quantity revenue: the correlated-average subquery
    * — lines of one brand whose quantity is under 20% of that part's
    * average quantity. The per-part average is an aggregate over the
    * brand-filtered facts joined back on partkey; the 0.2·avg
    * comparison is done in integers (5·qty·cnt < sum) so it is exact.
    * Filter-first matters at scale: the brand-sliced part join prunes
    * the facts before the per-part aggregate, so the agg shuffles
    * 1/25th of the data. The slice is SF-proportional, so the join is
    * unhinted — AQE picks broadcast at bench SF.
    */
  def q17SmallQuantity(spark: SparkSession, sfDir: String, brand: String = "Brand#3"): DataFrame = {
    // Brand slice is ~4% of part — SF-proportional, so unhinted:
    // AQE broadcasts it at bench SF, SMJ at warehouse scale.
    val target = Tables.part(spark, sfDir)
      .filter(col("p_brand") === brand).select(col("p_partkey"))
    val li = Tables.lineitem(spark, sfDir)
      .join(target, col("l_partkey") === col("p_partkey"))
    val perPart = li.groupBy(col("l_partkey").as("agg_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("cnt_qty"))
    li.join(perPart, col("l_partkey") === col("agg_partkey"))
      .filter(col("l_quantity").cast("long") * 5 * col("cnt_qty") < col("sum_qty"))
      .agg(sum(cents(col("l_extendedprice"))).as("total_cents"),
        count(lit(1)).as("line_ct"))
  }

  /** Q19-style disjunctive revenue: OR-of-ANDs across both join sides —
    * three (brand, size-range, quantity-range) arms. Catalyst keeps the
    * common `l_partkey = p_partkey` conjunct as the join key and
    * evaluates the disjunction as a post-join filter; the per-side
    * IN/range fragments are pushed to the scans where extractable.
    */
  def q19Disjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    val arm1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val arm2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val arm3 = col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
        count(lit(1)).as("line_ct"))
  }

  /** Q21-style waiting suppliers: the EXISTS + NOT-EXISTS pair — a
    * supplier "kept an order waiting" when it has a returned line on a
    * multi-supplier order and NO OTHER supplier's lines on that order
    * were returned. Both quantifiers derive from ONE distinct
    * (order, supplier, returned?) pair aggregate: the facts shuffle
    * once into pairs, then per-order supplier/returned counts are
    * unbounded window aggregates over the (small) pair relation — no
    * self-join, no correlated re-scan, structurally a single fact scan
    * (PlanSpec pins scans and the shared window sort).
    */
  def q21WaitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE fact scan AND one fact shuffle (r15, guide §2.4 "two
    // operations keyed the same way share one exchange"): repartition
    // the narrow (orderkey, suppkey, ret) projection by l_orderkey
    // once — HashPartitioning(l_orderkey) satisfies the clustering of
    // BOTH the (orderkey, suppkey) pair collapse and the per-order
    // rollup, so the two aggregates run back to back with no further
    // exchange. The old form shuffled twice (pairs agg + a window over
    // l_orderkey) and paid the window's per-partition sort; the
    // per-order rollup replaces the window outright, recovering the
    // single returning supplier as max(suppkey | ret=1) — exact,
    // because the ret_supp_ct = 1 filter guarantees uniqueness.
    val pre = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        when(col("l_returnflag") === "R", 1).otherwise(0).as("ret0"))
      .repartition(col("l_orderkey"))
    val pairs = pre.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("ret0")).as("ret"))
    pairs.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("supp_ct"), sum(col("ret")).as("ret_supp_ct"),
        max(when(col("ret") === 1, col("l_suppkey"))).as("l_suppkey"))
      .filter(col("supp_ct") >= 2 && col("ret_supp_ct") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
  }

  /** Q22-style dormant accounts: scalar-average subquery + NOT EXISTS —
    * customers whose balance exceeds the average positive balance and
    * who have never ordered, summarized per nation. The global average
    * is a one-row aggregate cross-broadcast over customers (integer
    * cents: c·n > Σ avoids double-summation order sensitivity); the
    * NOT EXISTS is a LEFT ANTI join against order custkeys.
    */
  def q22DormantAccounts(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .withColumn("acct_cents", cents(col("c_acctbal")))
    val stats = c.filter(col("acct_cents") > 0)
      .agg(sum(col("acct_cents")).as("pos_sum_cents"), count(lit(1)).as("pos_ct"))
    val rich = c.crossJoin(broadcast(stats))
      .filter(col("acct_cents") * col("pos_ct") > col("pos_sum_cents"))
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"))
    rich.join(o, col("c_custkey") === col("o_custkey"), "leftanti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("cust_ct"), sum(col("acct_cents")).as("acctbal_cents"))
  }

  /** Q2-style cheapest supply: argmin-per-group with join-back — for
    * each part of one type, the minimum line price ever paid and the
    * supplier(s) that charged it. The min is a per-part aggregate
    * joined back to the distinct (part, supplier, price) triples on
    * (partkey, price=min) — the standard argmin shape that avoids a
    * global sort; ties keep every witness so results are deterministic.
    */
  def q2CheapestSupply(spark: SparkSession, sfDir: String, ptype: String = "LARGE"): DataFrame = {
    // Type slice is ~17% of part — SF-proportional, so unhinted
    // (AQE decides; forced broadcast would OOM at warehouse scale).
    val tp = Tables.part(spark, sfDir)
      .filter(col("p_type") === ptype).select(col("p_partkey"), col("p_name"))
    val li = Tables.lineitem(spark, sfDir)
      .join(tp, col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("l_suppkey"),
        cents(col("l_extendedprice")).as("price_cents"))
    // argmin via rank() window (r15, guide §2.4): the former min-agg +
    // join-back shuffled the joined slice three times (distinct on the
    // full tuple, the min aggregate, the sort-merge join-back) — rank()
    // keeps ALL rows tying on the per-part minimum (exactly the rows
    // price == min selected), WindowGroupLimit prunes each map
    // partition to its per-part leaders before the ONE shuffle, and
    // the distinct that collapses duplicate supply lines reuses the
    // window's partitioning (partkey ⊆ the distinct key set), so the
    // whole head pays a single fact exchange.
    // null guard (ADVICE r15): the min() this argmin replaced IGNORED
    // null prices (and `price == min` never matched a null), but a bare
    // ascending window sorts nulls FIRST — a null-priced row would win
    // rank 1 and flip the result. Dropping nulls before the window pins
    // the old semantics exactly, including the all-null-part edge; on
    // the actual data (l_extendedprice NOT NULL) the filter folds away.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_partkey")).orderBy(col("price_cents"))
    li.filter(col("price_cents").isNotNull)
      .withColumn("rk", rank().over(w)).filter(col("rk") === 1).drop("rk")
      .distinct()
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"),
        col("price_cents").as("min_price_cents"),
        col("s_suppkey"), col("s_name"))
  }

  /** Q9-style product-type profit: profit per (supplier nation, order
    * year) for one part family. The reduced schema has no partsupp, so
    * unit cost is `p_retailprice` (deterministic, oracle-expressible)
    * instead of `ps_supplycost`; profit = Σ(rev_cents − cost_cents·qty)
    * in ONE pass over the joined facts, all-integer so it is bit-exact
    * vs DuckDB regardless of summation order. Scale shape: the
    * name-filtered part join prunes the facts first (1/N of lines
    * survive before the orderkey shuffle; the slice is SF-proportional
    * so it is unhinted — AQE decides), nation hint-broadcast
    * (supplier via AQE), one agg exchange on (nation, year).
    */
  def q9ProductProfit(spark: SparkSession, sfDir: String, family: String = "widget"): DataFrame = {
    // Name-family slice is ~12% of part — SF-proportional, unhinted
    // (filter-first shape kept; AQE picks broadcast at bench SF).
    val p = Tables.part(spark, sfDir)
      .filter(col("p_name").contains(family))
      .select(col("p_partkey"), cents(col("p_retailprice")).as("unit_cost_cents"))
    val li = Tables.lineitem(spark, sfDir).join(p, col("l_partkey") === col("p_partkey"))
    li.join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
        - col("unit_cost_cents") * col("l_quantity").cast("long")).as("profit_cents"))
  }

  /** Q11-style important supply: parts whose supply value from one
    * nation band's suppliers is ABOVE AVERAGE — the fraction-of-total
    * HAVING scalar subquery. Value is derived from lineitem (no
    * partsupp in the reduced schema), and the threshold is
    * value·part_ct > total (above the mean) rather than TPC-H's
    * fixed fraction, which q11 itself has to rescale by 1/SF — this
    * form is scale-invariant, so the query is meaningful from sf0.001
    * to 100 TB unchanged. The per-part aggregate shuffles once on
    * partkey; the stats are a ONE-ROW aggregate cross-broadcast back
    * (never a single-partition window); the compare is all-integer so
    * no double division splits the engines.
    */
  def q11ImportantSupply(spark: SparkSession, sfDir: String,
                         nationPrefix: String = "NATION_1"): DataFrame = {
    val sup = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .filter(col("n_name").startsWith(nationPrefix))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Tables.lineitem(spark, sfDir)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("value_cents"))
    val stats = perPart.agg(sum(col("value_cents")).as("total_cents"),
      count(lit(1)).as("part_ct"))
    perPart.crossJoin(broadcast(stats))
      .filter(col("value_cents") * col("part_ct") > col("total_cents"))
      .select(col("l_partkey"), col("value_cents"))
  }

  /** Q20-style dominant suppliers: suppliers (from a nation band) who
    * shipped MORE THAN HALF of a part family's 1996 volume for at
    * least one part — the reduced-schema analog of q20's
    * "availqty > ½·shipped" (no partsupp). ONE structural fact pass:
    * facts → (part, supplier) pair quantities (one shuffle), then the
    * per-part total as a WINDOW over the tiny pair relation (same
    * single-scan trick as q21 — a second aggregate subtree would
    * re-scan lineitem because Catalyst's exchange reuse can't see
    * through the divergent parents). All quantity math in longs.
    */
  def q20DominantSuppliers(spark: SparkSession, sfDir: String,
                           prefix: String = "cold"): DataFrame = {
    // Prefix slice is ~13% of part — SF-proportional, unhinted
    // (AQE broadcasts at bench SF; degrades to SMJ at 100 TB).
    val p = Tables.part(spark, sfDir)
      .filter(col("p_name").startsWith(prefix)).select(col("p_partkey"))
    val pairQty = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("pair_qty"))
    val wPart = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    pairQty.withColumn("part_qty", sum(col("pair_qty")).over(wPart))
      .filter(col("pair_qty") * 2 > col("part_qty"))
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir).filter(col("n_name").startsWith("NATION_1"))
        .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("dominated_parts"))
  }

  /** Global top-k — the ORDER BY ... LIMIT k reporting tail every
    * dashboard query ends with. Spark plans this as
    * TakeOrderedAndProject: each partition keeps its local top-k heap
    * and the driver merges k·partitions rows — NO global sort, no
    * single-partition exchange (PlanSpec pins the operator). The
    * ordering is made TOTAL with the orderkey tiebreak so LIMIT is
    * deterministic and oracle-comparable.
    */
  def qTopRevenueOrders(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey"))
      .limit(k)

  /** Build-once Upsert copies of lineitem + orders for the CBO payoff
    * head: orders records o_totalprice ZONES (exact global min/max for
    * the CBO's filter estimation) but is CLUSTERED BY KEY, so each
    * file's totalprice range spans the table — zone PRUNING keeps
    * every file and the scan's sizeInBytes stays the full table: the
    * broadcast decision below is made by STATISTICS, not by file
    * skipping. Returns (lineitemRoot, ordersRoot).
    */
  def cboEnsure(spark: SparkSession, sfDir: String): (String, String) = {
    val l = Tables.ensureBuilt(spark, "target/cbo/lineitem_", sfDir,
        source = "lineitem.parquet",
        recipe = "snapshot cluster(l_orderkey) files=8 v1") { root =>
      graft.io.Upsert.overwriteSnapshot(spark, root,
        Tables.lineitem(spark, sfDir),
        clusterBy = Seq("l_orderkey"), filesTarget = 8)
    }
    val o = Tables.ensureBuilt(spark, "target/cbo/orders_", sfDir,
        source = "orders.parquet",
        recipe = "snapshot zones(o_totalprice) cluster(o_orderkey) files=8 ndv-v2") { root =>
      graft.io.Upsert.overwriteSnapshot(spark, root,
        Tables.orders(spark, sfDir),
        zoneCols = Seq("o_totalprice"),
        clusterBy = Seq("o_orderkey"), filesTarget = 8)
    }
    (l, o)
  }

  /** CBO PAYOFF head (VERDICT r9 #5): a fact⋈dim join whose dim side
    * is range-FILTERED on a zone column. The broadcast threshold is
    * pinned below the dim's on-disk size (the 100 TB shape: a dim too
    * big to broadcast unfiltered), so:
    *   - WITHOUT cbo, the filter's output is estimated at the child's
    *     full size (size-only visitor) → the planner must sort-merge:
    *     the WHOLE fact shuffles;
    *   - WITH cbo, the scan's exact o_totalprice min/max feed
    *     FilterEstimation: `< 5000` keeps <1% of a [≈1000, ≈500000]
    *     range, the filtered dim estimates far below the threshold,
    *     and the planner BROADCASTS it — zero fact shuffle, the plan a
    *     1000-executor cluster needs.
    * The flip is plan-pinned both ways in CboJoinSpec; the ORACLE
    * recomputes the join over the raw tables, green proving the
    * stats-driven plan returns exactly the recompute.
    */
  def qCboBroadcastFlip(spark: SparkSession, sfDir: String): DataFrame = {
    val (lRoot, oRoot) = cboEnsure(spark, sfDir)
    val dimBytes = graft.io.Upsert.stats(spark, oRoot).get.liveBytes
    // a CHILD session (GraftSession.child): the cbo flip and the
    // threshold, fixed at its creation, are invisible to every other head
    val s2 = graft.core.GraftSession.child(spark, "q_cbo_broadcast_flip", sfDir)(Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> math.max(1L, dimBytes / 2).toString,
      // the runtime rescue must not mask the PLANNED choice either way
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> math.max(1L, dimBytes / 2).toString))
    cboJoin(s2, lRoot, oRoot)
  }

  /** Build-once Upsert copies of lineitem + orders + customer for the
    * CBO JOIN-REORDER head (VERDICT r10 #3): all three record the
    * key/filter columns as zones so the scans report exact rowCount +
    * min/max + ndv — the inputs Spark's cost-based join reordering
    * (JoinReorderDP) actually consumes. Key-clustered like [[cboEnsure]]
    * so file skipping cannot stand in for statistics.
    */
  def cboReorderEnsure(spark: SparkSession, sfDir: String)
      : (String, String, String) = {
    val l = Tables.ensureBuilt(spark, "target/cbo/lineitem3_", sfDir,
        source = "lineitem.parquet",
        recipe = "snapshot zones(l_orderkey) cluster(l_orderkey) files=8 v1") { root =>
      graft.io.Upsert.overwriteSnapshot(spark, root,
        Tables.lineitem(spark, sfDir),
        zoneCols = Seq("l_orderkey"),
        clusterBy = Seq("l_orderkey"), filesTarget = 8)
    }
    val o = Tables.ensureBuilt(spark, "target/cbo/orders3_", sfDir,
        source = "orders.parquet",
        recipe = "snapshot zones(o_orderkey,o_custkey) cluster(o_orderkey) files=8 v1") { root =>
      graft.io.Upsert.overwriteSnapshot(spark, root,
        Tables.orders(spark, sfDir),
        zoneCols = Seq("o_orderkey", "o_custkey"),
        clusterBy = Seq("o_orderkey"), filesTarget = 8)
    }
    val c = Tables.ensureBuilt(spark, "target/cbo/customer3_", sfDir,
        source = "customer.parquet",
        recipe = "snapshot zones(c_custkey) cluster(c_custkey) files=4 v1") { root =>
      graft.io.Upsert.overwriteSnapshot(spark, root,
        Tables.customer(spark, sfDir),
        zoneCols = Seq("c_custkey"),
        clusterBy = Seq("c_custkey"), filesTarget = 4)
    }
    (l, o, c)
  }

  /** CBO JOIN-REORDER payoff (VERDICT r10 #3): a 3-table inner-join
    * chain written in the WORST syntactic order — fact ⋈ fact first
    * (lineitem ⋈ orders, the full 60k×15k intermediate), the filtered
    * customer dim last. Broadcast is DISABLED both ways so join ORDER
    * is the only degree of freedom:
    *   - without cbo.joinReorder, the optimizer keeps the syntactic
    *     order: the biggest intermediate materializes first;
    *   - with it, the scans' exact rowCounts + c_custkey min/max (the
    *     filter estimate) + o_custkey/o_orderkey ndv (the join-output
    *     estimates) let JoinReorderDP join orders ⋈ customer-filtered
    *     FIRST — the tiny intermediate — then lineitem.
    * CboReorderSpec pins the ORDER both ways; the oracle recomputes
    * over the raw tables — green proves the reordered plan returns
    * exactly the recompute. At warehouse scale this is the estimate
    * chain every multi-join query stands on.
    */
  def qCboJoinReorder(spark: SparkSession, sfDir: String): DataFrame = {
    val (lRoot, oRoot, cRoot) = cboReorderEnsure(spark, sfDir)
    val s2 = graft.core.GraftSession.child(spark, "q_cbo_join_reorder", sfDir)(Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))
    cboReorderJoin(s2, lRoot, oRoot, cRoot)
  }

  /** The reorder query itself, session-parameterized so
    * [[qCboJoinReorder]] and CboReorderSpec build the IDENTICAL plan
    * under different confs.
    */
  private[graft] def cboReorderJoin(s: SparkSession, lRoot: String,
                                    oRoot: String, cRoot: String): DataFrame = {
    val li = graft.sources.UpsertBucketSource.read(s, lRoot)
    val o = graft.sources.UpsertBucketSource.read(s, oRoot)
    val c = graft.sources.UpsertBucketSource.read(s, cRoot)
      .filter(col("c_custkey") < 100L)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"),
        count(lit(1)).as("item_ct"))
  }

  /** The join itself, session-parameterized so [[qCboBroadcastFlip]]
    * and the plan spec build the IDENTICAL query under different confs.
    */
  private[graft] def cboJoin(s: SparkSession, lRoot: String,
                             oRoot: String): DataFrame = {
    val li = graft.sources.UpsertBucketSource.read(s, lRoot)
    val o = graft.sources.UpsertBucketSource.read(s, oRoot)
      .filter(col("o_totalprice") < 5000.0)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"),
        count(lit(1)).as("item_ct"))
  }

  /** Q5-style local-supplier revenue: 6-way join, group by nation.
    * Facts (lineitem⋈orders) shuffle once on the order key; nation /
    * region hint-broadcast, customer / supplier left to AQE.
    */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = broadcast(Tables.nation(spark, sfDir))
    val r = broadcast(Tables.region(spark, sfDir))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
  }
}
