package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, Size}
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule for the 100 TB path: rewrite exact
  * `size(collect_set(x))` distinct counts into HyperLogLog++
  * (`approx_count_distinct`). The reference counts distinct
  * merchants/payment-methods with per-key HashSets
  * (reference: windows/WindowProcessor.java:261,317-320,435-439) —
  * exact but O(distinct) state per key. At cluster scale the HLL
  * sketch (constant ~KB state, mergeable map-side) is the right
  * trade; the rewrite is opt-in (`spark.graft.rewrite.approxDistinct`)
  * because it changes results, and stays off for the DuckDB-oracle
  * correctness surface.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {
  val ConfKey = "spark.graft.rewrite.approxDistinct"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(ConfKey, "false").toBoolean) plan
    else plan.transformAllExpressions {
      case Size(AggregateExpression(CollectSet(child, _, _), mode, false, filter, id), _) =>
        // optimizer rules must preserve types: size() is INT, the HLL
        // count is BIGINT — cast back
        Cast(AggregateExpression(
          HyperLogLogPlusPlus(child), mode, isDistinct = false, filter, id),
          IntegerType)
    }
}

/** Session extensions: `haversine_km` and `dot_d` as SQL-registered native
  * expression plus the approx-distinct rewrite. Install with a session
  * builder's `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object GraftExtensions {
  /** `bounded_levenshtein(l, r, k)` — k must be a foldable INT
    * constant (it parameterizes the band width at plan time, exactly
    * like the built-in three-argument `levenshtein`); builders run
    * before constant folding, so foldable non-literals (`1+2`, `-1`
    * parsed as UnaryMinus) are evaluated here.
    */
  private[plans] val boundedLevBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, k)
        if k.foldable && k.dataType == IntegerType && k.eval() != null =>
      BoundedLevenshtein(a, b, k.eval().asInstanceOf[Int])
    case other => throw new IllegalArgumentException(
      "bounded_levenshtein expects (string, string, constant int); got " +
        (if (other.size != 3) s"${other.size} argument(s)"
         else s"a third argument of type ${other(2).dataType.simpleString}" +
           (if (other(2).foldable) "" else " that is not a constant")))
  }

  /** Install into an already-running session (builder extensions only
    * apply to new SparkContexts): temp-function registration + the
    * rewrite via experimental extra optimizations.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "haversine_km",
      (children: Seq[Expression]) => children match {
        case Seq(a, b, c, d) => HaversineDistance(a, b, c, d)
        case _ => throw new IllegalArgumentException(
          s"haversine_km expects 4 arguments, got ${children.size}")
      },
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_d",
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException(
          s"dot_d expects 2 arguments, got ${children.size}")
      },
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bounded_levenshtein", boundedLevBuilder, "scala_udf")
    if (!spark.experimental.extraOptimizations.contains(ApproxDistinctRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ApproxDistinctRewrite
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("haversine_km"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[HaversineDistance].getName, "haversine_km"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b, c, d) => HaversineDistance(a, b, c, d)
        case _ => throw new IllegalArgumentException(
          s"haversine_km expects 4 arguments, got ${children.size}")
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("dot_d"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotProduct].getName, "dot_d"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException(
          s"dot_d expects 2 arguments, got ${children.size}")
      }))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("bounded_levenshtein"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[BoundedLevenshtein].getName, "bounded_levenshtein"),
      GraftExtensions.boundedLevBuilder))
    ext.injectOptimizerRule(_ => ApproxDistinctRewrite)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
