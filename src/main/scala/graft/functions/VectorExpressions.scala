package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The HOF form (`aggregate(zip_with(...))`) is semantically right but
  * interpreted: per-pair lambda dispatch allocates and boxes, and it broke
  * the 100 TB budget (102 s for 2M pairs at sf0.1). This expression is the
  * same computation — a sequential left-to-right double fold over
  * (double)a[i] * (double)b[i] — so results stay bit-identical to the HOF
  * version and the DuckDB `list_reduce` oracle, but it compiles into the
  * whole-stage-codegen loop: no allocation, no virtual calls.
  *
  * Preference order applied (SURVEY.md/§ build rules): (a) built-ins were
  * the baseline; (b) this custom Expression replaces them only on the
  * measured hot path.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "float_dot"

  // getFloat over non-float array bytes would silently misread memory;
  // make any other input an analysis-time error instead (r01 ADVICE)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> arguments, got " +
            s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double)$a.getFloat($i) * (double)$b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `float_dot` for Spark, and its DuckDB spellings for the oracles.
  *
  * The oracles are exact only because both engines run the same
  * sequential left-to-right double fold; the SQL builders below are the
  * one place that fold order is written for DuckDB, so every vector
  * oracle spells the dot product, the norm and the cosine top-k ranking
  * the same way as [[FloatDotProduct]] computes them.
  */
object VectorExpressions {
  /** Arity-checked builder that [[register]] installs. */
  private val builder: Seq[Expression] => Expression =
    Arity.checked("float_dot", 2)(exprs => FloatDotProduct(exprs(0), exprs(1)))

  /** Idempotently register `float_dot` for SQL/expr use in this session. */
  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, "float_dot") {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "float_dot", builder, "built-in")
    }

  /** `float_dot(a, b)` in DuckDB: (double)a[i] * (double)b[i] folded left
    * to right over the length of `a`. */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, len($a)),
       |  i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE)),
       |  (x, y) -> x + y)""".stripMargin

  /** Cosine of two relations `q` and `c` that carry `embedding` and its
    * `nrm`: the dot fold over the product of the norms. */
  def cosSql(q: String, c: String): String =
    s"${dotSql(s"$q.embedding", s"$c.embedding")} / ($q.nrm * $c.nrm)"

  /** The norm CTE `name AS (...)`: `cols` of `embeddings` plus `nrm`, the
    * DuckDB spelling of `sqrt(float_dot(embedding, embedding))`. */
  def normCteSql(name: String, cols: String): String =
    s"""$name AS (
       |  SELECT $cols,
       |         sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)) AS nrm
       |  FROM embeddings)""".stripMargin

  /** Row number within each `key` by `cos`, best first, ties to the
    * smaller `id`: the order of every cosine top-k. */
  def cosRankSql(key: String = "qid", id: String = "cand_id"): String =
    s"ROW_NUMBER() OVER (PARTITION BY $key ORDER BY cos DESC, $id ASC)"

  /** The per-key top-k CTE `name AS (...)`: the rows of `src` (which has
    * `cols`, `cand_id` and `cos` among them) whose [[cosRankSql]] within
    * `key` is at most `k`, projected to `out` (`cols` when empty). */
  def topkCteSql(name: String, src: String, k: Int, key: String = "qid",
      cols: String = "qid, cand_id", out: String = ""): String =
    s"""$name AS (
       |  SELECT ${if (out.isEmpty) cols else out} FROM (
       |    SELECT $cols,
       |           ${cosRankSql(key)} AS rank
       |    FROM $src) t
       |  WHERE rank <= $k)""".stripMargin
}
