package graft.npm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import model._

/** T3 — registry-metadata normalization (SURVEY.md §1.2, §2.5 T3).
  *
  * A pure-function re-expression of what the reference's producer applies
  * per change (reference: node_app/producer.ts:145 via
  * normalize-registry-metadata/index.js:4-96):
  *
  *  1. drop the doc entirely for `_design/` ids, `_deleted: true`, or
  *     `error == "not_found" && reason == "deleted"` (index.js:7-11);
  *  2. semver-clean every key of `versions`; on a rename, move the version
  *     entry, rewrite its `version` field and `_id = <pkg>@<cleaned>`, and
  *     move the matching `time` key (index.js:37-60);
  *  3. repair `dist-tags`: retarget tags whose value was renamed in (2);
  *     for tags pointing at a version that doesn't exist, try cleaning the
  *     tag value itself — drop the tag if it is uncleanable or still
  *     missing from `versions` (index.js:71-93).
  *
  * Pure (PackageDoc → Option[PackageDoc]) so it is unit/property-testable
  * without Spark; the Dataset stage maps it over `Dataset[Change]`.
  */
object Normalize {

  def normalizeDoc(doc: PackageDoc): Option[PackageDoc] = {
    val id = doc._id.getOrElse("")
    if (id.isEmpty || id.startsWith("_design/")) return None
    if (doc._deleted.contains(true)) return None
    if (doc.error.contains("not_found") && doc.reason.contains("deleted")) return None

    // (1b) couchapp-field repair on every surviving doc (index.js:14,19-20):
    // default _attachments to {}, drop doc-level ctime/mtime
    val base = doc.copy(
      _attachments = Some(doc._attachments.getOrElse(Map.empty)),
      ctime = None, mtime = None)
    // ... and per version (index.js:28-32): default directories, drop ctime/mtime
    def fixVersion(v: VersionDoc): VersionDoc = v.copy(
      directories = Some(v.directories.getOrElse(Map.empty)),
      ctime = None, mtime = None)

    base.versions match {
      case None => Some(base)
      case Some(versions) =>
        // (2) semver-clean version keys, tracking renames. On a post-clean
        // key collision (both "1.2.3" and "v1.2.3" present) the RENAMED
        // entry wins REGARDLESS of map order: the reference assigns
        // `versions[cleaned] = version` (index.js:44), overwriting any
        // plain entry whether it was visited before or after the rename.
        var renames = Map.empty[String, String]
        var keptPlain = Map.empty[String, VersionDoc]
        var renamedEntries = Map.empty[String, VersionDoc]
        var newTime = base.time.getOrElse(Map.empty)
        versions.foreach { case (k, v0) =>
          val v = fixVersion(v0)
          Semver.clean(k) match {
            case Some(cleaned) if cleaned != k =>
              renames += (k -> cleaned)
              renamedEntries += (cleaned -> v.copy(
                version = Some(cleaned),
                _id = Some(s"$id@$cleaned")))
              newTime.get(k).foreach { t =>
                newTime = newTime - k + (cleaned -> t)
              }
            case _ =>
              keptPlain += (k -> v)
          }
        }
        val newVersions = keptPlain ++ renamedEntries
        // (3) dist-tags repair
        val newTags = base.`dist-tags`.map { tags =>
          tags.flatMap { case (tag, target) =>
            if (renames.contains(target)) Some(tag -> renames(target))
            else if (newVersions.contains(target)) Some(tag -> target)
            else Semver.clean(target) match {
              case Some(cleaned) if newVersions.contains(cleaned) => Some(tag -> cleaned)
              case _ => None // uncleanable or still missing → drop the tag
            }
          }
        }
        Some(base.copy(
          versions = Some(newVersions),
          time = if (base.time.isDefined) Some(newTime) else None,
          `dist-tags` = newTags))
    }
  }

  /** Stream/batch stage: normalize each change's doc; changes whose doc is
    * dropped by normalization keep flowing with doc = None (the pipeline's
    * F1 filter then routes them to the DLQ with a reason).
    */
  def normalizeChange(c: Change): Change =
    c.copy(doc = c.doc.flatMap(normalizeDoc))

  /** T3 as pure Column DSL — the performance path (SURVEY §4.2's upgrade
    * applied end-to-end): identical semantics to [[normalizeDoc]]
    * (verified by NormalizeColumnsSpec against the typed path), but no
    * encoder round-trip per row: semver cleaning runs through the native
    * SemverClean expression, map rewrites through
    * transform/map_from_entries/transform_values/map_filter (which Spark
    * evaluates interpreted, inside the codegen'd projection). Each
    * version key is cleaned once and each rewritten map built once per
    * doc.
    *
    * Requires `semver_clean` registered in the session
    * (SemverExpressions.register — idempotent).
    *
    * Keys that collide AFTER cleaning (e.g. both "1.2.3" and "v1.2.3" —
    * occurs in real npm data) are deduped explicitly, last entry wins —
    * matching the typed path and the reference library (index.js:44
    * last-write-wins on plain object assignment) — so the stage never
    * raises DUPLICATED_MAP_KEY under the default mapKeyDedupPolicy.
    */
  def normalizedDocColumn(doc: Column): Column = {
    // Higher-order functions run interpreted, outside subexpression
    // elimination: a subexpression written twice is evaluated twice, and
    // once per element inside a lambda. `let` binds a value to a lambda
    // variable so it is evaluated once, whatever reads it.
    def let(value: Column)(body: Column => Column): Column =
      transform(array(value), body).getItem(0)

    // Rename-wins dedup of an array<struct<key,value,ren>> before
    // map_from_entries: a renamed entry beats any plain entry with the
    // same key regardless of position (the reference's
    // `versions[cleaned] = version` assignment overwrites either way,
    // index.js:44); among multiple entries of the SAME kind — renames
    // colliding on one key, or literal duplicate raw JSON keys, which
    // from_json preserves — the last wins (JS object parse / Scala Map
    // semantics), so the stage never raises DUPLICATED_MAP_KEY under the
    // default mapKeyDedupPolicy. Cheap path: no collision (the
    // overwhelmingly common case) → entries as-is; the O(n²) scan runs
    // only on collision.
    def dedupRenameWins(entries: Column): Column = let(entries) { ents =>
      val collides = size(array_distinct(transform(ents, _.getField("key")))) =!= size(ents)
      def laterSameKey(e: Column, i: Column, ren: Boolean) =
        exists(slice(ents, i + lit(2), size(ents)),
          e2 => e2.getField("key") === e.getField("key") && (if (ren) e2.getField("ren") else !e2.getField("ren")))
      val kept = filter(ents, (e, i) =>
        when(e.getField("ren"), !laterSameKey(e, i, ren = true))
        .otherwise(
          !exists(ents,
            e2 => e2.getField("key") === e.getField("key") && e2.getField("ren")) &&
          !laterSameKey(e, i, ren = false)))
      map_from_entries(transform(when(collides, kept).otherwise(ents),
        e => struct(e.getField("key").as("key"), e.getField("value").as("value"))))
    }
    def clean(c: Column): Column = call_function("semver_clean", c)
    val id = doc.getField("_id")
    val dropDoc = id.isNull || id === "" || id.startsWith("_design/") ||
      coalesce(doc.getField("_deleted"), lit(false)) ||
      (doc.getField("error") === "not_found" && doc.getField("reason") === "deleted")
    val versions = doc.getField("versions")

    // (1b) couchapp-field repair on every surviving doc (index.js:14,19-20,
    // 28-32): default _attachments / per-version directories to {}, drop
    // doc- and version-level ctime/mtime
    val noStr = lit(null).cast("string")
    val base = doc
      .withField("_attachments",
        coalesce(doc.getField("_attachments"), map().cast(MapType(StringType, attachmentType))))
      .withField("ctime", noStr)
      .withField("mtime", noStr)

    // (2) semver-clean version keys; rewrite version/_id on rename
    val versions2 = dedupRenameWins(transform(map_entries(versions), { e =>
      val k = e.getField("key")
      val v0 = e.getField("value")
      val v = v0
        .withField("directories",
          coalesce(v0.getField("directories"), map().cast(MapType(StringType, StringType))))
        .withField("ctime", noStr)
        .withField("mtime", noStr)
      let(clean(k)) { ck =>
        val renamed = ck.isNotNull && ck =!= k
        struct(
          coalesce(ck, k).as("key"),
          when(renamed,
            v.withField("version", ck)
              .withField("_id", concat(id, lit("@"), ck)))
            .otherwise(v).as("value"),
          renamed.as("ren"))
      }
    }))

    // move time keys in lockstep with version-key renames; a moved entry
    // overwrites a plain one at the cleaned key (reference assignment)
    val time2 = dedupRenameWins(transform(map_entries(doc.getField("time")), { e =>
      val k = e.getField("key")
      let(clean(k)) { ck =>
        val moved = ck.isNotNull && ck =!= k && map_contains_key(versions, k)
        struct(when(moved, ck).otherwise(k).as("key"), e.getField("value").as("value"),
          moved.as("ren"))
      }
    }))

    // (3) dist-tags repair against the NEW version key set: retarget
    // renamed values, keep resolvable ones, clean-then-retry, else drop
    val tags = doc.getField("dist-tags")
    def tags2(newVersions: Column): Column = {
      val retargeted = transform_values(tags, { (_, v) =>
        let(clean(v)) { cv =>
          when(cv.isNotNull && map_contains_key(newVersions, cv), cv)
            .when(map_contains_key(newVersions, v), v)
            .otherwise(lit(null).cast("string"))
        }
      })
      map_filter(retargeted, (_, v) => v.isNotNull)
    }

    when(dropDoc, lit(null).cast(docType))
      .when(versions.isNull, base)
      .otherwise(let(versions2) { v2 =>
        base
          .withField("versions", v2)
          .withField("time", when(doc.getField("time").isNotNull, time2))
          .withField("`dist-tags`", when(tags.isNotNull, tags2(v2)))
      })
  }
}
