package graft.npm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, coalesce, lit, map}
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
  * On a semver-clean key collision (both `1.2.3` and `v1.2.3`) the renamed
  * entry wins whatever the order; among entries of one kind the last wins.
  *
  * [[normalizeDoc]] is the pure (PackageDoc → Option[PackageDoc]) form,
  * unit- and property-testable without Spark, and the oracle for
  * [[normalizedDocColumn]], the one the pipeline runs.
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

  /** T3 as one Column, equal to [[normalizeDoc]] on every doc the typed model can express: the doc-level
    * repair as `withField`s, which Catalyst rewrites only after folding local relations (so a local input
    * is not normalized on the driver at planning time), then `normalize_doc` (SemverExpressions). */
  def normalizedDocColumn(doc: Column): Column = call_function("normalize_doc", doc
    .withField("_attachments",
      coalesce(doc.getField("_attachments"), map().cast(MapType(StringType, attachmentType))))
    .withField("ctime", lit(null).cast(StringType))
    .withField("mtime", lit(null).cast(StringType)))
}
