package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomExpressions, FloatDotProduct, SemverClean, SemverExpressions, VectorExpressions}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions at session build time, so SQL users get them without any
  * imperative `register` call:
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)                 // programmatic, or
  * builder.config("spark.sql.extensions", "graft.GraftExtensions")  // config
  * }}}
  *
  * (Queries that receive an already-built session — the driver contract —
  * fall back to [[graft.functions.VectorExpressions.register]], which is
  * idempotent and registers the same builder.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDotProduct].getName, "float_dot"),
      VectorExpressions.builder))
    e.injectFunction((
      new FunctionIdentifier("semver_clean"),
      new ExpressionInfo(classOf[SemverClean].getName, "semver_clean"),
      SemverExpressions.builder))
    // Spark's own runtime-filter predicate, surfaced for hand-placed
    // semi-join reductions (ScalePatterns.bloomPruneJoin)
    e.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      BloomExpressions.builder))
    // whole-operator extension: the sort-free per-key top-k physical
    // operator (graft.plans.TopKPerKey); already-built sessions get it
    // lazily via TopK.ensureRegistered / TopK.enableRewrite
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // and the optimizer rule that routes plain `row_number <= k` window
    // queries through it (prune-before-sort; semantics preserved)
    e.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    // SURVEY §4.2's deferred rewrite: fuse repeated map accesses
    // (element_at(versions, dist_tags['latest']) chains) into a single
    // plan-visible materialization
    e.injectOptimizerRule(_ => graft.plans.MapAccessFusion)
  }
}
