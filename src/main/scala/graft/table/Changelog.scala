package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental changelog scan — the NET row-level changes between two
 * snapshots of a [[TokenTable]], the feed a downstream training-data
 * consumer (incremental dedup, index refresh, feature backfill) reads
 * instead of re-scanning 100 TB per cycle. The reference's streaming
 * extractors re-poll a source for "what's new"
 * (nodestream/pipeline/extractors/streams/extractor.py:47-99); on a table
 * the same question has an exact answer in the snapshot log, so this is a
 * read-side operator, not a connector.
 *
 * Semantics (Iceberg changelog-scan shape): the result is the minimal
 * delete/insert multiset that rewrites the `from` snapshot's visible rows
 * into `to`'s — updates surface as a delete of the old version plus an
 * insert of the new (standard CDC encoding), and pure rewrites
 * (compact / cluster / manifest ops) contribute NOTHING, because they do
 * not change visible rows. Net means per-range, not per-commit: a row
 * inserted and deleted strictly inside the range never appears.
 *
 * One plan, scoped by metadata before any data is read. A data file
 * whose path is live at both ends is SKIPPED when the set of deletes that
 * apply to it ([[DataFileMeta.appliesTo]]: higher sequence, overlapping doc
 * range) is the same at both ends, because then its visible rows are
 * identical in `from` and `to`. Only the rest is
 * read, each side with its own snapshot's delete entries:
 *  - the `from` side: files removed in the range, plus kept files some new
 *    (or retired) delete applies to;
 *  - the `to` side: files added in the range, plus the same kept files.
 * When the `from` side is empty (an append-only range, or `from = None`)
 * the `to` side IS the changelog: returned as inserts with no join and no
 * shuffle — the steady-state streaming-ingest case costs O(new data).
 * Otherwise the two pruned sides are diffed on a pair of
 * independently-seeded 64-bit content hashes in one full-outer join on
 * (doc_id, h1, h2): exact for every operation mix up to a simultaneous
 * two-stream hash collision (~2^-128 per doc), at a cost that follows the
 * files the range touched, not the table. Both sides are projected into
 * the CURRENT schema by field-id, so the diff stays well-defined across
 * schema evolution.
 *
 * Duplicate rows: skipping cancels an unchanged file's rows on both sides
 * exactly (a multiset cancellation), and the join then matches the
 * remaining rows as a set per (doc_id, content). So a duplicate in a
 * skipped file can no longer absorb the removal of its copy in a changed
 * file: that removal surfaces as a delete, where a full-table set diff
 * reported nothing. On the files the range changed the result therefore
 * follows multiset, not set, semantics. Like
 * [[graft.maintenance.Maintenance.deleteWhereMor]], the table contract is
 * the MERGE invariant (one row per doc_id), under which both coincide.
 */
object Changelog {

  /** Change-kind column appended to the table schema: `insert` | `delete`. */
  val ChangeTypeCol = "_change_type"

  /**
   * Net changes in `(fromSnapshot, toSnapshot]`. `fromSnapshot = None`
   * means "from the empty table" (every visible row is an insert);
   * `toSnapshot = None` means the current snapshot. An expired or unknown
   * `from` fails loudly — silently widening a CDC range re-delivers the
   * whole table downstream, which is exactly the surprise a consumer
   * cannot absorb.
   */
  def changesBetween(
      spark: SparkSession,
      table: TokenTable,
      fromSnapshot: Option[Long],
      toSnapshot: Option[Long] = None): DataFrame = {
    val m = table.metadata
    val to = toSnapshot.orElse(m.currentSnapshotId)
      .getOrElse(sys.error("changesBetween: table has no snapshot"))
    val toSnap = m.snapshot(to).getOrElse(sys.error(s"unknown snapshot $to"))
    val fromSnap = fromSnapshot.map(id =>
      m.snapshot(id).getOrElse(sys.error(
        s"changesBetween: from snapshot $id is unknown or expired — " +
          "refusing to widen a CDC range to a full-table replay")))
    fromSnap.foreach(f => require(f.snapshotId <= to,
      s"changesBetween: from ${f.snapshotId} is newer than to $to"))

    val fromFiles = fromSnap.map(table.manifestEntries).getOrElse(Seq.empty)
    val toFiles = table.manifestEntries(toSnap)
    val fromDeletes = fromSnap.map(table.deleteEntries).getOrElse(Seq.empty)
    val toDeletes = table.deleteEntries(toSnap)

    def applicable(f: DataFileMeta, deletes: Seq[DataFileMeta]): Set[String] =
      deletes.filter(_.appliesTo(f)).map(_.path).toSet
    val toByPath = toFiles.map(f => f.path -> f).toMap
    val unchanged = fromFiles.filter(f => toByPath.get(f.path)
      .exists(g => applicable(f, fromDeletes) == applicable(g, toDeletes)))
      .map(_.path).toSet
    val fromRead = fromFiles.filterNot(f => unchanged(f.path))
    val toRead = toFiles.filterNot(f => unchanged(f.path))
    // readFiles projects every file into the CURRENT schema by field-id, so
    // changes are reported in the reader's schema and add/drop/rename
    // mid-range never breaks CDC continuity: a column added in the range
    // reads as null from pre-evolution files, so untouched rows hash equal
    // and only genuinely-rewritten rows surface as delete+insert (Iceberg
    // changelog-scan semantics).
    val newDf = table.readFiles(spark, toRead, toDeletes)
    if (fromRead.isEmpty) return newDf.withColumn(ChangeTypeCol, lit("insert"))
    val oldDf = table.readFiles(spark, fromRead, fromDeletes)
    // Two independently-seeded 64-bit hashes: equality on (_h, _h2) needs
    // a simultaneous collision of both streams (~2^-128 per doc), making
    // the "hash-equal but content-differs drops an update" caveat
    // cryptographically negligible at 24 bytes/row of build side.
    val dataCols = newDf.columns.toSeq
    val cols = dataCols.map(col).toIndexedSeq
    val hash = xxhash64(cols: _*)
    val hash2 = xxhash64(lit("graft-cdc-seed2") +: cols: _*)
    // ONE full-outer join on (doc_id, _h, _h2): each side is decoded and
    // hashed once, matched (unchanged) rows drop, and the change label
    // selects which side's payload survives.
    val keys = Seq("doc_id", "_h", "_h2")
    val o = oldDf.withColumn("_h", hash).withColumn("_h2", hash2)
      .withColumn("_o_present", lit(true))
    val n = newDf.withColumn("_h", hash).withColumn("_h2", hash2)
      .select(keys.map(col) ++
        dataCols.filterNot(_ == "doc_id").map(c => col(c).as(s"_n_$c")) :+
        lit(true).as("_n_present"): _*)
    val j = o.join(n, keys, "full_outer")
    val change = when(col("_n_present").isNull, "delete")
      .when(col("_o_present").isNull, "insert")
    j.filter(change.isNotNull)
      .select(dataCols.map {
        case "doc_id" => col("doc_id")
        case c => when(col("_n_present").isNull, col(c))
          .otherwise(col(s"_n_$c")).as(c)
      } :+ change.as(ChangeTypeCol): _*)
  }
}
