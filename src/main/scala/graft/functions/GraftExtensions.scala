package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: build sessions with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * and the graft vector functions resolve in plain SQL on every session,
  * cluster-wide — the idiomatic extension route (vs per-session
  * `VectorFunctions.register`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("ngrams"),
      new ExpressionInfo(classOf[NGrams].getName, "ngrams"),
      (exprs: Seq[Expression]) => NGrams(exprs(0), exprs(1))))
    // UDAF tier: the analyzer wraps the bare AggregateFunction in an
    // AggregateExpression (and owns DISTINCT/FILTER semantics)
    ext.injectFunction((
      FunctionIdentifier("spacesaving_topk"),
      new ExpressionInfo(classOf[SpaceSavingTopK].getName, "spacesaving_topk"),
      (exprs: Seq[Expression]) => GraftAggregates.fromSql(exprs)))
    ext.injectFunction((
      FunctionIdentifier("sketch_quantiles"),
      new ExpressionInfo(classOf[SketchQuantiles].getName, "sketch_quantiles"),
      (exprs: Seq[Expression]) => SketchQuantiles.fromSql(exprs)))
    ext.injectFunction((
      FunctionIdentifier("count_min"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "count_min"),
      (exprs: Seq[Expression]) => CountMinAgg(exprs(0),
        CountMin.litInt(exprs(1)), CountMin.litInt(exprs(2)))))
    // whole-operator surface: the custom as-of join plans + optimizes on
    // every session built with these extensions (graft.plans.AsOfJoin)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    // and so does the block-inference node (graft.plans.BlockPredict)
    ext.injectPlannerStrategy(_ => new graft.plans.BlockPredictStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushThroughBlockPredict)
  }
}
