package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.npm.Semver
import graft.npm.model.{docType, versionType}

/** `normalize_doc(doc)`: T3 ([[graft.npm.Normalize]]) over a `docType` struct
  * whose doc-level `_attachments`/`ctime`/`mtime` are already repaired; NULL
  * for a dropped doc. Generated code calls [[NormalizeDoc.normalize]] (so the
  * projection stays in whole-stage codegen), which walks each map once in order.
  */
case class NormalizeDoc(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(docType)
  override def dataType: DataType = docType
  override def nullable: Boolean = true
  override def prettyName: String = "normalize_doc"

  override protected def nullSafeEval(doc: Any): Any = NormalizeDoc.normalize(doc.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      InternalRow ${ev.value} = ${c.isNull} ? null : graft.functions.NormalizeDoc.normalize(${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NormalizeDoc {
  /** T3 over one doc row; null when the doc is dropped. */
  def normalize(doc: InternalRow): InternalRow = {
    def is(i: Int, s: UTF8String) = !doc.isNullAt(i) && doc.getUTF8String(i) == s
    if (doc.isNullAt(D.id) || doc.getUTF8String(D.id).numBytes == 0 || doc.getUTF8String(D.id).startsWith(design) ||
      (!doc.isNullAt(D.deleted) && doc.getBoolean(D.deleted)) || (is(D.error, notFound) && is(D.reason, deleted)))
      return null
    if (doc.isNullAt(D.versions)) return doc
    val out = copyOf(doc, docType)

    // versions: clean each key; a rename rewrites the value's version and _id
    val renames = mutable.HashMap.empty[UTF8String, UTF8String]
    val (versions, versionKeys) = dedup(doc.getMap(D.versions)) { (k, vs, i) =>
      val ck = Semver.cleanUTF8(k)
      val renamed = ck != null && ck != k
      if (renamed) renames(k) = ck
      val v = if (vs.isNullAt(i)) null else copyOf(vs.getStruct(i, versionType.length), versionType)
      if (v != null) {
        if (v.isNullAt(V.directories)) v.update(V.directories, emptyMap)
        Seq(V.ctime, V.mtime).foreach(v.setNullAt)
        if (renamed) {
          v.update(V.version, ck)
          v.update(V.id, UTF8String.concat(doc.getUTF8String(D.id), at, ck))
        }
      }
      (if (renamed) ck else k, v, renamed)
    }
    out.update(D.versions, versions)

    // time: keys move in lockstep with the version renames
    if (!doc.isNullAt(D.time)) out.update(D.time, dedup(doc.getMap(D.time)) { (k, vs, i) =>
      val moved = renames.get(k)
      (moved.getOrElse(k), if (vs.isNullAt(i)) null else vs.getUTF8String(i), moved.isDefined)
    }._1)

    // dist-tags: the cleaned value, else the value, if it is a version key; else dropped (duplicates stay)
    if (!doc.isNullAt(D.tags)) {
      val tags = doc.getMap(D.tags)
      val kept = (0 until tags.numElements).filterNot(tags.valueArray.isNullAt).flatMap { i =>
        val v = tags.valueArray.getUTF8String(i)
        Seq(Semver.cleanUTF8(v), v).find(t => t != null && versionKeys(t)).map(tags.keyArray.getUTF8String(i) -> _)
      }
      out.update(D.tags, mapOf(kept.map(_._1: Any).toArray, kept.map(_._2: Any).toArray))
    }
    out
  }

  private object D {
    val Seq(id, tags, versions, time, deleted, error, reason) =
      Seq("_id", "dist-tags", "versions", "time", "_deleted", "error", "reason").map(docType.fieldIndex)
  }
  private object V {
    val Seq(version, id, directories, ctime, mtime) =
      Seq("version", "_id", "directories", "ctime", "mtime").map(versionType.fieldIndex)
  }
  private val Seq(design, at, notFound, deleted) =
    Seq("_design/", "@", "not_found", "deleted").map(UTF8String.fromString)

  private val emptyMap: MapData = mapOf(Array.empty, Array.empty)
  private def mapOf(keys: Array[Any], values: Array[Any]): MapData =
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
  private def copyOf(row: InternalRow, t: StructType): GenericInternalRow =
    new GenericInternalRow(Array.tabulate[Any](t.length)(i => row.get(i, t.fields(i).dataType)))

  /** Rewrites each entry of `m` to (key, value, renamed), then keeps one per key, in input order: a
    * renamed entry beats a plain one, else the last wins (the reference's object assignment). */
  private def dedup(m: MapData)(f: (UTF8String, ArrayData, Int) => (UTF8String, Any, Boolean))
      : (MapData, collection.Set[UTF8String]) = {
    val rows = Array.tabulate(m.numElements)(i => f(m.keyArray.getUTF8String(i), m.valueArray, i))
    val winner = mutable.HashMap.empty[UTF8String, Int]
    for (i <- rows.indices if winner.get(rows(i)._1).forall(j => rows(i)._3 || !rows(j)._3))
      winner(rows(i)._1) = i
    val kept = rows.indices.filter(i => winner(rows(i)._1) == i).map(rows)
    (mapOf(kept.map(_._1: Any).toArray, kept.map(_._2).toArray), winner.keySet)
  }
}
