package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `semver_clean(str)` as a native Catalyst expression — the upgrade path
  * SURVEY.md §4.2 names for T3 when UDF overhead matters: the same pure
  * [[graft.npm.Semver.clean]] logic, but invoked from inside the
  * whole-stage-codegen loop through a static call (no ScalaUDF closure
  * serialization, no Option boxing, no encoder round-trip).
  *
  * Returns NULL for uncleanable strings (the semantics Normalize uses to
  * drop irreparable versions/dist-tags), which is why this is a custom
  * doGenCode rather than nullSafeCodeGen: a non-null input can still
  * produce a null output.
  */
case class SemverClean(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "semver_clean"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    graft.npm.Semver.cleanUTF8(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cleaned = ctx.freshName("cleaned")
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      UTF8String ${ev.value} = null;
      if (!${c.isNull}) {
        UTF8String $cleaned = graft.npm.Semver.cleanUTF8(${c.value});
        if ($cleaned != null) { ${ev.isNull} = false; ${ev.value} = $cleaned; }
      }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SemverExpressions {
  /** Arity-checked builders that [[register]] installs. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "semver_clean" -> Arity.checked("semver_clean", 1)(exprs => SemverClean(exprs(0))),
    "normalize_doc" -> Arity.checked("normalize_doc", 1)(exprs => NormalizeDoc(exprs(0))),
    "to_json_length" -> Arity.checked("to_json_length", 1)(exprs => ToJsonLength(exprs(0))))

  /** Idempotently register `semver_clean`, `normalize_doc` and `to_json_length` for SQL/expr use. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      RegisterOnce(spark, name) {
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
      }
    }
}
