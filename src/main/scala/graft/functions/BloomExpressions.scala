package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}

/** SQL surface for Spark's own `BloomFilterMightContain` predicate.
  *
  * Spark uses this expression internally for runtime row-level filtering
  * (injected by `InjectRuntimeFilter`) but does not expose it in the
  * public function registry. Registering it lets a query hand-place a
  * semi-join reduction where the optimizer's heuristics can't see one —
  * the 100 TB pattern in `operators.ScalePatterns.bloomPruneJoin`: build
  * a ~MB bloom over the filtered dimension's join keys once, ship it to
  * every executor as a literal, and drop non-joining fact rows BEFORE
  * the shuffle instead of after it. The predicate is codegen'd
  * (`BloomFilterMightContain.doGenCode`) and one-sided-error: false
  * positives only, so the join that follows keeps results exact.
  *
  * The filter blob itself comes from the public
  * `DataFrameStatFunctions.bloomFilter` aggregate, whose `putLong`
  * hashing matches `mightContainLong` used here.
  */
object BloomExpressions {
  /** Arity-checked builder that [[register]] installs. */
  private val builder: Seq[Expression] => Expression =
    Arity.checked("bloom_might_contain", 2)(
      exprs => BloomFilterMightContain(exprs(0), exprs(1)))

  /** Idempotently register `bloom_might_contain` for SQL/expr use. */
  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, "bloom_might_contain") {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "bloom_might_contain", builder, "built-in")
    }
}
