package graft.core

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.VectorExprs._

/** SparkSessionExtensions entry point: exposes the engine's native
  * expressions to pure-SQL users and installs its analyzer, optimizer
  * and query-stage rules and its planner strategies — the one way
  * they reach a session.
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or: --conf spark.sql.extensions=graft.core.GraftExtensions
  *   SELECT graft_simhash64(split(text, ' ')) FROM documents
  *
  * GraftFunctions.register(spark) does the same for an existing
  * session (temp-function registry).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(graft.functions.VectorExprs.getClass.getName, name), builder))
    }
    // merge-on-read catalog relations resolve into the composed
    // MergeOnRead.read plan before optimization (see MorReadRule)
    e.injectResolutionRule(session => graft.sources.MorReadRule(session))

    // auto-select partially-clustered SPJ on skewed bucket layouts —
    // runs after Spark's EnsureRequirements in the AQE preparation
    // phase (see sources/AutoSpj.scala)
    e.injectQueryStagePrepRule(session =>
      graft.sources.AutoPartialClusteringRule(session))
    // joins against DimRegistry-declared tables broadcast even when
    // size estimates lie (see DimBroadcastRule)
    e.injectOptimizerRule(session => DimBroadcastRule(session))
    // aggregate queries over MvRegistry-declared sources re-target to
    // their pre-aggregated rollup tables (see MvRewriteRule)
    e.injectOptimizerRule(session => MvRewriteRule(session))
    // physical plans for the engine's own logical nodes: the as-of
    // merge join and the verified ordering assertion (graft.plans)
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => new graft.plans.OrderedGuardStrategy)
  }
}

object GraftExtensions {

  /** The refusal a session built without GraftExtensions gets when it
    * reaches for something only the extensions install.
    */
  def missing(what: String): String =
    s"$what — start the session with GraftExtensions " +
      "(spark.sql.extensions=graft.core.GraftExtensions)"

  /** Refuse at once when `spark`'s planner lacks the strategy `what`
    * names, instead of failing later with "no plan for" the node.
    */
  def requireStrategy(spark: SparkSession, cls: Class[_], what: String): Unit =
    if (!spark.sessionState.planner.strategies.exists(cls.isInstance))
      throw new UnsupportedOperationException(
        missing(s"$what need the ${cls.getSimpleName} planner strategy"))
}

object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_simhash64" -> ((es: Seq[Expression]) => SimHash64(es.head)),
    "graft_quantize_vec" -> ((es: Seq[Expression]) =>
      QuantizeVec(es.head, intArg(es(1), "scale"))),
    "graft_dot_long" -> ((es: Seq[Expression]) => DotLong(es.head, es(1))),
    "graft_norm_sq_long" -> ((es: Seq[Expression]) => NormSqLong(es.head)),
    "graft_minhash_sig" -> ((es: Seq[Expression]) =>
      MinHashShingleSig(es.head,
        if (es.length > 1) intArg(es(1), "ngram") else 3,
        if (es.length > 2) intArg(es(2), "numHashes") else 64)),
    "graft_winnow_fp" -> ((es: Seq[Expression]) =>
      WinnowFingerprint(es.head,
        if (es.length > 1) intArg(es(1), "k") else 5,
        if (es.length > 2) intArg(es(2), "w") else 4)),
    "graft_sign_proj_bucket" -> ((es: Seq[Expression]) =>
      SignProjBucket(es.head, intArg(es(1), "planes"))),
    "graft_shingle_hashes" -> ((es: Seq[Expression]) =>
      ShingleHashes(es.head,
        if (es.length > 1) intArg(es(1), "ngram") else 3)),
    "graft_cjk_tokens" -> ((es: Seq[Expression]) => CjkTokens(es.head)))

  /** Register into an already-running session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
