package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, LogicalPlan, BROADCAST}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Declared-dimension registry for [[DimBroadcastRule]].
  *
  * At 100 TB, size ESTIMATES lie: a dim behind a filter, a freshly
  * written snapshot with no stats, or a post-shuffle `distinct()` all
  * defeat `autoBroadcastJoinThreshold`, and one miss turns a six-hop
  * enrichment chain into six sort-merge shuffles of the fact table.
  * The reference hardcodes the same judgment call as per-table
  * lookup-join cache config (BaseSQLApp.java:63-66 — every `dim_*`
  * table is declared cacheable); here the declaration is a table path
  * and the consequence is a planner hint, not a per-record RPC cache.
  *
  * Registering a path asserts "this table is dim-scale — broadcast
  * joins against it regardless of size estimates". Any subtree whose
  * leaves ALL read registered paths inherits the property (a distinct
  * or self-join of a dim is still dim-scale).
  */
object DimRegistry {
  /** Registrations are keyed by `sessionUUID` (r7 verdict #3): two
    * concurrent SparkSessions in one JVM must not see each other's dim
    * declarations — a table that is dim-scale in one pipeline's session
    * may be the 100 TB fact of another's.
    *
    * Lifecycle: only `register` creates a session's entry — the read
    * paths (`covers`/`isEmpty`, called on every optimization) never do,
    * so merely-planning sessions cost nothing. Registered sessions are
    * LRU-capped: a long-lived driver cycling sessions cannot grow the
    * map unboundedly, and eviction is SEMANTICALLY safe — losing a dim
    * declaration only drops the broadcast hint (AQE still decides from
    * runtime sizes), never changes results.
    */
  /** Registered sessions kept, here and in [[MvRegistry]]. */
  private[graft] val MaxSessions = 128
  private val bySession = new graft.io.Lru[String, java.util.Set[String]](MaxSessions)

  private def setFor(spark: SparkSession): java.util.Set[String] =
    bySession.getOrElseUpdate(org.apache.spark.sql.graft.Bridge.sessionId(spark))(
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]())

  private def existing(spark: SparkSession): Option[java.util.Set[String]] =
    bySession.get(org.apache.spark.sql.graft.Bridge.sessionId(spark))

  /** Normalize to the URI path component so `file:/x`, `file:///x`
    * and `/x` all name the same table.
    */
  private[core] def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath.replaceAll("/+$", "")

  def register(spark: SparkSession, tablePaths: String*): Unit =
    tablePaths.foreach(p => setFor(spark).add(norm(p)))
  def unregister(spark: SparkSession, tablePath: String): Unit =
    existing(spark).foreach(_.remove(norm(tablePath)))

  /** True when `p` is a registered table path or lies inside one — a
    * merge-on-read table's scans are rooted at its `base` and `delta`
    * dirs, not at the table dir itself.
    */
  def covers(spark: SparkSession, p: String): Boolean =
    existing(spark).exists { set =>
      val n = norm(p)
      val it = set.iterator()
      var found = false
      while (!found && it.hasNext) {
        val r = it.next()
        found = n == r || (n.startsWith(r) && n.charAt(r.length) == '/')
      }
      found
    }
  def isEmpty(spark: SparkSession): Boolean = existing(spark).forall(_.isEmpty)
  def clear(spark: SparkSession): Unit = existing(spark).foreach(_.clear())
}

/** Auto-broadcast joins against registered dim tables.
  *
  * Fills the empty join-hint slot of any [[Join]] side whose leaf scans
  * are all registered dims — exactly what a user's explicit
  * `broadcast(dim)` would have done, but declared once per table
  * instead of once per query. Explicit hints (either side) win: the
  * rule never overwrites a non-empty slot, which also makes it
  * idempotent inside a fixed-point optimizer batch.
  *
  * Injected by [[GraftExtensions]] at session build.
  */
case class DimBroadcastRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def allDimLeaves(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    leaves.nonEmpty && leaves.forall {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val roots = fs.location.rootPaths
          roots.nonEmpty && roots.forall(p => DimRegistry.covers(spark, p.toString))
        case _ => false
      }
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (DimRegistry.isEmpty(spark)) plan
    else plan.transformUp {
      case j: Join if j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty =>
        // prefer broadcasting the right side (the conventional dim slot)
        if (allDimLeaves(j.right))
          j.copy(hint = j.hint.copy(rightHint = Some(HintInfo(strategy = Some(BROADCAST)))))
        else if (allDimLeaves(j.left))
          j.copy(hint = j.hint.copy(leftHint = Some(HintInfo(strategy = Some(BROADCAST)))))
        else j
    }
}
