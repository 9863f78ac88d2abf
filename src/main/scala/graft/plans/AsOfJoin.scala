package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a WHOLE-OPERATOR Catalyst extension (VERDICT r5 #8):
  * a custom logical node, a planner strategy, and a physical
  * partitioned-merge operator — the (c)-tier extension point of the
  * build brief, demonstrated on the one operator the repo previously
  * expressed only through a windowed reformulation
  * ([[graft.ops.Relational.asOfJoin]]).
  *
  * Semantics: for every PROBE row, attach the HISTORY row with the
  * largest `historyTs` ≤ `probeTs` within the same key (ties on
  * `historyTs` broken by `tieBreak` ascending, last wins — matching
  * the windowed formulation's `ORDER BY ts, tag, click_id` last-value
  * semantics); no qualifying history row → history columns NULL
  * (left-outer as-of). NULL keys and NULL timestamps never match.
  *
  * Physical shape at 100 TB: each side shuffles ONCE on the key
  * (EnsureRequirements inserts the exchanges from
  * `requiredChildDistribution`, so AQE still coalesces/skew-splits
  * them), each partition sorts by (key, ts), and the merge is a
  * single forward pass holding ONE buffered history row — no per-key
  * materialization, no range-join cross product, memory O(1) per
  * partition. That is exactly the plan the windowed formulation
  * reaches via union+window, but without padding both sides to a
  * common schema — and the equality of the two is oracle-checked
  * (`j_asof_join_exec` shares `j_asof_join`'s DuckDB oracle).
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    leftTieBreak: Seq[Attribute]) extends BinaryNode {

  // probe (right) columns first, then the nullable history payload
  override def output: Seq[Attribute] =
    right.output ++ left.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] to [[AsOfJoinExec]]; installed by
  * [[graft.core.GraftExtensions]] (extension strategies are tried
  * before the built-in ones).
  */
class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, tie) =>
      AsOfJoinExec(lk, rk, lts, rts, tie, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Partitioned-merge as-of join: children are hash-clustered on the
  * key and sorted by (key, ts[, tieBreak]); the merge advances a
  * single history pointer per partition, keeping only the latest
  * qualifying history row. One buffered row, one forward pass.
  */
case class AsOfJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    leftTieBreak: Seq[Attribute],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    right.output ++ left.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (Seq(leftKey, leftTs) ++ leftTieBreak).map(a => SortOrder(a, Ascending)),
    Seq(rightKey, rightTs).map(a => SortOrder(a, Ascending)))

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyGet = BindReferences.bindReference(leftKey: Expression, leftOut)
      val lTsGet = BindReferences.bindReference(leftTs: Expression, leftOut)
      val rKeyGet = BindReferences.bindReference(rightKey: Expression, rightOut)
      val rTsGet = BindReferences.bindReference(rightTs: Expression, rightOut)
      val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
      val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
      // the input schema must declare the history side NULLABLE even
      // when the child's attributes aren't: the no-match row IS null,
      // and a non-nullable BoundReference would skip the null check
      // and read garbage zeros
      val proj = UnsafeProjection.create(outAttrs,
        rightOut ++ leftOut.map(_.withNullability(true)))
      val nullLeft = new GenericInternalRow(leftOut.length)
      val joined = new JoinedRow

      // sort iterators reuse row objects — the lookahead and the match
      // are the ONLY rows held, both copied; memory stays O(1)
      var lHead: InternalRow = if (lIter.hasNext) lIter.next().copy() else null
      var lastMatch: InternalRow = null
      def advance(): Unit =
        lHead = if (lIter.hasNext) lIter.next().copy() else null

      rIter.map { r =>
        val rk = rKeyGet.eval(r)
        val rt = rTsGet.eval(r)
        if (rk != null && rt != null) {
          var continue = lHead != null
          while (continue) {
            val lk = lKeyGet.eval(lHead)
            // NULL keys sort first and never match: skip past them
            val cmp = if (lk == null) -1 else keyOrd.compare(lk, rk)
            if (cmp < 0) { advance(); continue = lHead != null }
            else if (cmp == 0) {
              val lt = lTsGet.eval(lHead)
              if (lt == null) { advance(); continue = lHead != null } // NULL ts never matches
              else if (tsOrd.compare(lt, rt) <= 0) {
                lastMatch = lHead; advance(); continue = lHead != null
              } else continue = false
            } else continue = false
          }
        }
        // lastMatch may belong to an earlier key — validate at use
        val ok = rk != null && rt != null && lastMatch != null && {
          val lk = lKeyGet.eval(lastMatch)
          lk != null && keyOrd.compare(lk, rk) == 0 && {
            val lt = lTsGet.eval(lastMatch)
            lt != null && tsOrd.compare(lt, rt) <= 0
          }
        }
        proj(joined(r, if (ok) lastMatch else nullLeft))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Builder of the as-of join node. */
object AsOfJoin {

  /** `probe` AS-OF `history`: each probe row gets the latest history
    * row at or before its timestamp within `key`. Output columns:
    * probe's, then history's (nullable). Both inputs are re-aliased
    * so self-joins (both sides from one source) keep unambiguous
    * expression ids.
    */
  def asOf(probe: DataFrame, history: DataFrame, key: String,
           probeTs: String, historyTs: String,
           tieBreak: Seq[String] = Nil): DataFrame = {
    val spark = probe.sparkSession
    graft.core.GraftExtensions.requireStrategy(spark, classOf[AsOfJoinStrategy], "as-of joins")
    def fresh(df: DataFrame): DataFrame =
      df.select(df.columns.toIndexedSeq.map(c => df(c).as(c)): _*)
    val l = fresh(history).queryExecution.analyzed
    val r = fresh(probe).queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"as-of join: no column '$n' on the $side side (${p.output.map(_.name).mkString(", ")})"))
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      AsOfJoinNode(l, r,
        attr(l, key, "history"), attr(r, key, "probe"),
        attr(l, historyTs, "history"), attr(r, probeTs, "probe"),
        tieBreak.map(attr(l, _, "history"))))
  }
}
