package graft.table

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/**
 * Metadata model of the Graft token table — an Iceberg-style snapshot table
 * format built from scratch (no Iceberg runtime on the classpath).
 *
 * It reifies the reference's checkpoint/ledger + schema state
 * (nodestream/pipeline/object_storage.py:143-344, nodestream/schema/state.py:418-775)
 * as *table metadata*: a versioned metadata JSON holding the snapshot log, with
 * per-snapshot manifest files carrying one row per data file including
 * per-column min/max stats used for scan pruning (the analogue of nodestream's
 * DynamoDB filter/projection pushdown, …/stores/aws/dynamodb_extractor.py:70-85).
 *
 * Layout:
 * {{{
 *   <root>/data/<uuid>.parquet                  -- token sequence data files
 *   <root>/metadata/v<N>.json                   -- table metadata (snapshot log)
 *   <root>/metadata/manifest-<uuid>.json        -- list of DataFileMeta
 *   <root>/metadata/version-hint.text           -- latest committed N (advisory)
 *   <root>/metadata/ledger/<step>/...           -- resumable work-unit ledger
 * }}}
 */
/** One field of a declared partition spec (Iceberg's hidden partitioning):
  * `transform` is `identity`, `bucket` (with `n` buckets) or `truncate`
  * (with `n` = width: integral columns floor to the width's multiple,
  * string columns keep the first `n` characters — Iceberg's truncate
  * semantics). The partition value is DERIVED from the data column at write
  * time — readers filter on the data column and pruning happens through the
  * transform, so queries never mention partition columns (the "hidden" in
  * hidden partitioning). */
final case class PartitionField(column: String, transform: String, n: Option[Int] = None) {
  require(transform == "identity" || transform == "bucket" || transform == "truncate",
    s"unknown transform '$transform'")
  require(transform == "identity" || n.exists(_ > 0), s"$transform transform needs n > 0")
  /** The partition tuple key this field contributes, e.g. `source`,
    * `doc_id_bucket8` or `n_tok_trunc100`. The parameter is PART of the
    * key: after evolvePartitionSpec changes n, files written under the old
    * spec carry a differently-named tuple entry, so pruning against the new
    * spec finds no value and falls back to stats (conservative) instead of
    * comparing a hash%4 value against a hash%8 expectation (silently
    * wrong). */
  def name: String = transform match {
    case "identity" => column
    case "bucket"   => s"${column}_bucket${n.get}"
    case "truncate" => s"${column}_trunc${n.get}"
  }
}

final case class DataFileMeta(
    path: String, // relative to table root
    records: Long,
    bytes: Long,
    minDocId: String,
    maxDocId: String,
    minNTok: Int,
    maxNTok: Int,
    sumNTok: Long, // 0 = unknown (footer-derived stats carry no sums)
    sources: Seq[String], // exact distinct set when known, else empty (see min/maxSource)
    minZKey: Option[Long] = None,
    maxZKey: Option[Long] = None,
    schemaId: Option[Int] = None, // schema version at write time; None = 0
    minSource: Option[String] = None, // footer min/max when `sources` is inexact
    maxSource: Option[String] = None,
    // Partition tuple of this file under the table's partitionSpec (absent
    // on files written before the spec existed or on unpartitioned tables).
    // A partition-aligned write guarantees ONE tuple per file, making
    // partition pruning exact where stats ranges only approximate.
    partition: Option[Map[String, String]] = None,
    // Data sequence number (Iceberg-style): the snapshot id of the commit
    // that ADDED this file. An equality-delete file applies only to data
    // files with a strictly smaller sequence — a row re-inserted after the
    // delete lands in a higher-sequence file and survives. None (files
    // written before merge-on-read existed) reads as 0: every delete is
    // newer than such files, so applying it is exactly right.
    addedSeq: Option[Long] = None) {
  def schemaIdOr0: Int = schemaId.getOrElse(0)
  def seqOr0: Long = addedSeq.getOrElse(0L)

  /** Can this equality-delete entry remove rows of data file `f`? Only when
    * it is newer (higher sequence) and its doc range overlaps `f`'s. */
  def appliesTo(f: DataFileMeta): Boolean =
    seqOr0 > f.seqOr0 && maxDocId >= f.minDocId && minDocId <= f.maxDocId

  def partitionValue(name: String): Option[String] = partition.flatMap(_.get(name))

  /** May this file contain a row whose source is in `target`? (pruning-safe:
    * returns true when stats can't prove otherwise) */
  def sourceIntersects(target: Set[String]): Boolean =
    if (sources.nonEmpty) sources.exists(target.contains)
    else (minSource, maxSource) match {
      case (Some(lo), Some(hi)) => target.exists(s => s >= lo && s <= hi)
      case _                    => true // unknown: cannot prune
    }

  /** Do stats PROVE every row's source is in `target`? (required for
    * metadata-only deletes — must never over-claim) */
  def sourceCovers(target: Set[String]): Boolean =
    if (sources.nonEmpty) sources.forall(target.contains)
    else (minSource, maxSource) match {
      case (Some(lo), Some(hi)) => lo == hi && target.contains(lo)
      case _                    => false
    }
}

/** One entry of the schema log: immutable (id, schema, name->fieldId map).
  * Field-ids make renames safe: a data file written under schema v0 is
  * projected into the current schema by id, not by name — the same design
  * choice as Iceberg, and the table-format recast of nodestream's migration
  * DAG (reference nodestream/schema/migrations/migrations.py:10-127). */
final case class SchemaVersion(
    schemaId: Int,
    schemaJson: String,
    fieldIds: Map[String, Int])

/** Manifest-list entry: summary stats of one manifest file. The doc_id range
  * (absent on manifests written before it existed → always read) lets commit
  * and scan planning skip manifests that provably cannot contain a touched
  * file — Iceberg's manifest-list design, so carrying forward untouched
  * manifests costs zero reads. */
final case class ManifestMeta(
    path: String, addedFiles: Int, records: Long, bytes: Long,
    minDocId: Option[String] = None, maxDocId: Option[String] = None) {

  /** May this manifest contain a file whose doc range intersects [lo, hi]?
    * (Any file's range is contained in its manifest's range, so a manifest
    * outside [lo, hi] cannot hold a file intersecting it. No stats → true.) */
  def mayIntersect(lo: String, hi: String): Boolean = (minDocId, maxDocId) match {
    case (Some(mlo), Some(mhi)) => mhi >= lo && mlo <= hi
    case _                      => true
  }
}

final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // append | compact | cluster | merge | delete | delete-mor | expire | rewrite-manifests
    manifests: Seq[ManifestMeta],
    summary: Map[String, String],
    // Merge-on-read equality-delete manifests (absent before the feature and
    // on snapshots with no pending deletes). Each entry lists delete key
    // files — parquet of doc_id keys — whose addedSeq is the delete's
    // sequence number; a delete applies to data files with a smaller seq.
    deleteManifests: Option[Seq[ManifestMeta]] = None,
    // Where this snapshot's manifest list lives on disk (relative to
    // metadata/). Snapshots are immutable, so the list file is written
    // exactly once, at the commit that created the snapshot; v{N}.json then
    // carries only this reference plus the header fields, making commit
    // metadata cost O(current snapshot) instead of O(full history) —
    // Iceberg's manifest-list design. None on metadata written before the
    // feature (lists inline) and always None in a HYDRATED in-memory
    // Snapshot's on-disk twin. In memory, `manifests`/`deleteManifests` are
    // always populated (TokenTable hydrates at load, caching by list path).
    manifestList: Option[String] = None) {
  def deletes: Seq[ManifestMeta] = deleteManifests.getOrElse(Seq.empty)
}

/** On-disk content of one snapshot's manifest-list file (`snap-*.json`). */
final case class ManifestListFile(
    manifests: Seq[ManifestMeta],
    deleteManifests: Option[Seq[ManifestMeta]] = None)

/** A named snapshot reference (Iceberg-style): `tag` pins a snapshot
  * immutably (a training job reads "prod" however much maintenance runs
  * after it); `branch` is a movable head for write-audit-publish. */
final case class SnapshotRef(snapshotId: Long, kind: String) {
  require(kind == "tag" || kind == "branch", s"unknown ref kind '$kind'")
}

final case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    schemaJson: String, // current Spark StructType json, field order fixed
    sortOrder: Seq[String], // declared clustering, e.g. Seq("zorder(doc_id,source,n_tok)")
    currentSnapshotId: Option[Long],
    snapshots: Seq[Snapshot],
    properties: Map[String, String],
    // schema evolution (absent on v0 tables: single schema 0 inferred)
    currentSchemaId: Option[Int] = None,
    schemaLog: Option[Seq[SchemaVersion]] = None,
    // named refs (absent before the feature existed)
    refs: Option[Map[String, SnapshotRef]] = None,
    // declared hidden-partitioning spec (absent = unpartitioned table)
    partitionSpec: Option[Seq[PartitionField]] = None) {

  def refMap: Map[String, SnapshotRef] = refs.getOrElse(Map.empty)

  def spec: Seq[PartitionField] = partitionSpec.getOrElse(Seq.empty)

  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))

  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  def withSnapshot(s: Snapshot): TableMetadata =
    copy(currentSnapshotId = Some(s.snapshotId), snapshots = snapshots :+ s)

  def schemaIdNow: Int = currentSchemaId.getOrElse(0)

  /** Full schema log; entry 0 is synthesized for tables created before
    * schema evolution existed (fieldIds = field position). */
  def schemas: Seq[SchemaVersion] = {
    val logged = schemaLog.getOrElse(Seq.empty)
    if (logged.exists(_.schemaId == 0)) logged
    else {
      val base = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      SchemaVersion(0, schemaJson, base.fieldNames.zipWithIndex.toMap) +: logged
    }
  }

  def schemaVersion(id: Int): SchemaVersion =
    schemas.find(_.schemaId == id).getOrElse(sys.error(s"unknown schema id $id"))
}

object TableJson {
  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  def write[A <: AnyRef](a: A): String = Serialization.writePretty(a)

  def readMetadata(s: String): TableMetadata = JsonMethods.parse(s).extract[TableMetadata]
  def readManifest(s: String): Seq[DataFileMeta] =
    JsonMethods.parse(s).extract[Seq[DataFileMeta]]
  def readManifestList(s: String): ManifestListFile =
    JsonMethods.parse(s).extract[ManifestListFile]
}
