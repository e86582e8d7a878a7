package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `to_json_length(struct)`: `length(to_json(struct))` as a LONG, added up over the row without building
  * the JSON string (the F2 doc-size check, [[graft.npm.Pipeline.withDerived]]). Each value counts what
  * Spark's JacksonGenerator writes for it: struct fields skipped when null under
  * `spark.sql.jsonGenerator.ignoreNullFields`, `null` for null map values and array elements, Jackson's
  * escapes, code points for strings and `Long.toString` digits for numbers. The input may nest only
  * structs, string-keyed maps, arrays, strings, longs and booleans (`docType`'s types); anything else
  * fails analysis. Generated code makes one call into the input type's [[ToJsonLength.StructSizer]].
  */
case class ToJsonLength(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "to_json_length"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if ToJsonLength.supported(s) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a struct of structs, " +
      s"string-keyed maps, arrays, strings, longs and booleans, got ${other.catalogString}")
  }

  @transient private lazy val sizer =
    ToJsonLength.struct(child.dataType.asInstanceOf[StructType], SQLConf.get.jsonGeneratorIgnoreNullFields)

  override protected def nullSafeEval(row: Any): Any = sizer.row(row.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("sizer", sizer)
    defineCodeGen(ctx, ev, row => s"$s.row($row)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ToJsonLength {
  /** JSON length of the value at ordinal `i` of a row or an array, built once per input type. */
  trait Sizer extends Serializable { def apply(g: SpecializedGetters, i: Int): Long }

  /** `{"name":value,...}`: fields in schema order, a null one skipped or written as `null`. */
  final class StructSizer(names: Array[Long], fields: Array[Sizer], ignoreNull: Boolean) extends Sizer {
    def apply(g: SpecializedGetters, i: Int): Long = row(g.getStruct(i, fields.length))
    def row(r: InternalRow): Long = {
      var len, written = 0L
      var i = 0
      while (i < fields.length) {
        if (!r.isNullAt(i)) { len += names(i) + fields(i)(r, i); written += 1 }
        else if (!ignoreNull) { len += names(i) + 4; written += 1 }
        i += 1
      }
      len + separators(written)
    }
  }

  private def supported(t: DataType): Boolean = t match {
    case _: StringType | LongType | BooleanType => true
    case ArrayType(e, _) => supported(e)
    case MapType(_: StringType, v, _) => supported(v)
    case s: StructType => s.fields.forall(f => supported(f.dataType))
    case _ => false
  }

  private def struct(s: StructType, ignoreNull: Boolean): StructSizer =
    new StructSizer(s.fieldNames.map(n => string(UTF8String.fromString(n)) + 1),
      s.fields.map(f => sizer(f.dataType, ignoreNull)), ignoreNull)

  private def sizer(t: DataType, ignoreNull: Boolean): Sizer = t match {
    case _: StringType => (g, i) => string(g.getUTF8String(i))
    case LongType => (g, i) => digits(g.getLong(i))
    case BooleanType => (g, i) => if (g.getBoolean(i)) 4 else 5
    case ArrayType(e, _) =>
      val element = sizer(e, ignoreNull)
      (g, i) => {
        val a = g.getArray(i)
        var len = separators(a.numElements)
        var j = 0
        while (j < a.numElements) { len += (if (a.isNullAt(j)) 4 else element(a, j)); j += 1 }
        len
      }
    case MapType(_, v, _) =>
      val value = sizer(v, ignoreNull)
      (g, i) => {
        val m = g.getMap(i)
        val keys = m.keyArray
        val values = m.valueArray
        var len = separators(m.numElements)
        var j = 0
        while (j < m.numElements) {
          len += string(keys.getUTF8String(j)) + 1 + (if (values.isNullAt(j)) 4 else value(values, j))
          j += 1
        }
        len
      }
    case s: StructType => struct(s, ignoreNull)
  }

  /** The two brackets plus one comma between each pair of `n` entries. */
  private def separators(n: Long): Long = if (n == 0) 2 else n + 1

  /** Written width of each ASCII byte: Jackson's two-char escapes, `\u00XX` for other C0 controls. */
  private val ascii: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if ("\"\\\b\t\n\f\r".indexOf(c) >= 0) 2 else if (c < 0x20) 6 else 1
  }

  /** A quoted JSON string's length in code points: one per ASCII escape width or UTF-8 lead byte. */
  private def string(s: UTF8String): Long = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    var len = 2L
    var nonAscii = false
    var i = 0
    while (i < s.numBytes) {
      val b = Platform.getByte(base, offset + i)
      if (b >= 0) len += ascii(b)
      else { nonAscii = true; if ((b & 0xC0) != 0x80) len += 1 }
      i += 1
    }
    // to_json writes the decoded String, where each malformed sequence became one U+FFFD
    if (nonAscii && !s.isValid) string(UTF8String.fromString(s.toString)) else len
  }

  /** `Long.toString(v).length`. */
  private def digits(v: Long): Long =
    if (v == Long.MinValue) 20
    else if (v < 0) 1 + digits(-v)
    else {
      var n = 1
      var bound = 10L
      while (n < 19 && v >= bound) { n += 1; bound *= 10 }
      n
    }
}
