package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.table.{Changelog, TokenTable}

class ChangelogSpec extends SparkSpec {

  private def mk(n: Int = 600, files: Int = 4) =
    SequenceGen.createTable(spark, tmpDir("cdc") + "/tbl", n, files)

  /** `n` docs in `files` files with disjoint doc_id ranges. */
  private def mkSorted(n: Int, files: Int): TokenTable = {
    val t = TokenTable.create(spark, tmpDir("cdc-sorted") + "/tbl")
    t.commit("append", t.stageWrite(
      SequenceGen.sequences(spark, n).repartitionByRange(files, col("doc_id")), "seed"))
    t
  }

  private def types(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy(Changelog.ChangeTypeCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("empty range and noop rewrites produce no changes") {
    val t = mk()
    val s0 = t.metadata.currentSnapshotId.get
    assert(Changelog.changesBetween(spark, t, Some(s0)).count() == 0)
    // compact + zorder rewrite every byte but change no visible row
    Maintenance.compact(spark, t, targetFileBytes = 64L * 1024 * 1024,
      smallFileThreshold = Some(64L * 1024 * 1024))
    Maintenance.cluster(spark, t, graft.maintenance.ZOrder(Seq("doc_id", "source")))
    assert(Changelog.changesBetween(spark, t, Some(s0)).count() == 0)
  }

  test("from = None means from-empty: every visible row is an insert") {
    val t = mk(300, 2)
    val ch = Changelog.changesBetween(spark, t, None)
    assert(types(ch) == Map("insert" -> 300L))
    assert(ch.count() == t.scan(spark).count())
  }

  test("append-only range takes the manifest fast path (no join) and is exact") {
    val t = mk(400, 3)
    val s0 = t.metadata.currentSnapshotId.get
    val batch = t.scan(spark).limit(50)
      .select(concat(lit("new-"), col("doc_id")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"))
      .localCheckpoint()
    t.commit("append", t.stageWrite(batch, "a1"))
    t.commit("append", t.stageWrite(batch.withColumn(
      "doc_id", concat(lit("x"), col("doc_id"))), "a2"))
    val ch = Changelog.changesBetween(spark, t, Some(s0))
    assert(ch.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "append-only range must not plan a join")
    assert(types(ch) == Map("insert" -> 100L))
  }

  test("CoW merge surfaces updates as delete+insert pairs, net of rewrites") {
    val t = mk(700, 5)
    val s0 = t.metadata.currentSnapshotId.get
    val upd = t.scan(spark).limit(40)
      .select(col("doc_id"), col("tokens"), (col("n_tok") + 1).as("n_tok"),
        lit("updated").as("source")).localCheckpoint()
    // a real update must change content; n_tok+1 with same tokens does
    Maintenance.mergeInto(spark, t, upd.select(
      col("doc_id"), concat(col("tokens"), array(lit(7))).as("tokens"),
      col("n_tok"), col("source")))
    val ch = Changelog.changesBetween(spark, t, Some(s0))
    assert(types(ch) == Map("delete" -> 40L, "insert" -> 40L))
    val ins = ch.filter(col(Changelog.ChangeTypeCol) === "insert")
    assert(ins.filter(col("source") === "updated").count() == 40)
  }

  test("MoR delete keys in range force the diff path and report deletes") {
    val t = mk(500, 4)
    val s0 = t.metadata.currentSnapshotId.get
    val victims = t.scan(spark).select("doc_id").orderBy("doc_id").limit(3)
      .collect().map(_.getString(0))
    Maintenance.deleteWhereMor(spark, t,
      Maintenance.DocIdBetween(victims.min, victims.max))
    val ch = Changelog.changesBetween(spark, t, Some(s0))
    assert(types(ch) == Map("delete" -> 3L))
    assert(ch.select("doc_id").collect().map(_.getString(0)).sorted.toSeq ==
      victims.sorted.toSeq)
  }

  test("add-column mid-range keeps CDC continuity: diff in the current schema") {
    val t = mk(300, 3)
    val s0 = t.metadata.currentSnapshotId.get
    t.evolveSchema(Seq(graft.table.AddColumn("quality", "DOUBLE")))
    // CoW-update 20 rows under the evolved schema (forces the content-diff
    // path); the 280 untouched rows read quality=null from BOTH snapshots'
    // files via field-id projection, so they hash equal and stay silent
    val upd = t.scan(spark).limit(20)
      .select(col("doc_id"), concat(col("tokens"), array(lit(9))).as("tokens"),
        (col("n_tok") + 1).as("n_tok"), col("source")).localCheckpoint()
    Maintenance.mergeInto(spark, t, upd)
    val ch = Changelog.changesBetween(spark, t, Some(s0))
    assert(ch.columns.contains("quality"),
      "changelog must be reported in the current (evolved) schema")
    assert(types(ch) == Map("delete" -> 20L, "insert" -> 20L))
    val ins = ch.filter(col(Changelog.ChangeTypeCol) === "insert")
    assert(ins.filter(col("n_tok") > 0 && col("quality").isNull).count() == 20)
  }

  test("unknown/expired from and inverted ranges fail loudly") {
    val t = mk(100, 1)
    val s0 = t.metadata.currentSnapshotId.get
    val e = intercept[RuntimeException](
      Changelog.changesBetween(spark, t, Some(s0 + 999)))
    assert(e.getMessage.contains("unknown or expired"))
    t.commit("append", t.stageWrite(t.scan(spark).limit(1).select(
      concat(lit("z"), col("doc_id")).as("doc_id"),
      col("tokens"), col("n_tok"), col("source")), "one"))
    val s1 = t.metadata.currentSnapshotId.get
    intercept[IllegalArgumentException](
      Changelog.changesBetween(spark, t, Some(s1), Some(s0)))
  }

  test("MoR merge inside one file's range reads only that file and the range's additions") {
    val t = mkSorted(800, 4)
    val seed = t.liveFiles().sortBy(_.minDocId)
    assert(seed.size == 4 && seed.sliding(2).forall(p => p(0).maxDocId < p(1).minDocId))
    val target = seed(1)
    val s0 = t.metadata.currentSnapshotId.get
    val upd = t.scan(spark)
      .filter(col("doc_id").between(target.minDocId, target.maxDocId))
      .orderBy("doc_id").limit(10)
      .select(col("doc_id"), concat(col("tokens"), array(lit(5))).as("tokens"),
        (col("n_tok") + 1).as("n_tok"), lit("upd").as("source"))
      .localCheckpoint()
    Maintenance.mergeMor(spark, t, upd)
    val m = t.metadata
    val addedData = t.liveFiles(m).map(_.path).toSet -- seed.map(_.path)
    val addedDeletes = t.deleteEntriesOf(m).map(_.path).toSet
    assert(addedData.nonEmpty && addedDeletes.nonEmpty)
    val ch = Changelog.changesBetween(spark, t, Some(s0))
    // Spark reads data files; the pending delete's keys are loaded by the
    // driver (its key file is far below the broadcast threshold)
    val read = ch.inputFiles.map(u => u.substring(u.indexOf("/tbl/") + 5)).toSet
    seed.filterNot(_ == target).foreach(f =>
      assert(!read.contains(f.path), s"untouched file ${f.path} was read"))
    assert(read == addedData + target.path)
    assert(t.deleteKeyCacheState._1 == addedDeletes)
    assert(types(ch) == Map("delete" -> 10L, "insert" -> 10L))
  }

  test("seeded model check: random ranges over a random history match a full-scan diff") {
    val rnd = new scala.util.Random(20261017L)
    val t = mkSorted(320, 4)
    val snaps = scala.collection.mutable.ArrayBuffer(t.metadata.currentSnapshotId.get)
    def liveIds(): IndexedSeq[String] =
      t.scan(spark).select("doc_id").collect().map(_.getString(0)).sorted.toIndexedSeq
    // upserts (tokens changed), a few deletes and fresh inserts, in the
    // canonical merge shape
    def mergeBatch(step: Int): DataFrame = {
      val ids = rnd.shuffle(liveIds()).take(16)
      val (upd, del) = ids.splitAt(12)
      val cur = t.scan(spark).select("doc_id", "tokens", "n_tok", "source")
      val ups = cur.filter(col("doc_id").isin(upd: _*))
        .select(col("doc_id"), concat(col("tokens"), array(lit(step))).as("tokens"),
          (col("n_tok") + 1).as("n_tok"), lit(s"s$step").as("source"), lit("upsert").as("_op"))
      val dels = cur.filter(col("doc_id").isin(del: _*)).withColumn("_op", lit("delete"))
      val ins = SequenceGen.sequences(spark, 6, seed = 500L + step)
        .withColumn("doc_id", concat(lit(s"m$step-"), col("doc_id")))
        .withColumn("_op", lit("upsert"))
      ups.unionByName(dels).unionByName(ins).localCheckpoint()
    }
    val kinds = Seq("append", "cow", "mor", "delete-mor", "compact", "materialize", "add-column")
    val history = rnd.shuffle(kinds) ++
      Seq.fill(4)(kinds.filterNot(_ == "add-column")(rnd.nextInt(kinds.size - 1)))
    history.zipWithIndex.foreach { case (kind, step) =>
      kind match {
        case "append" =>
          t.commit("append", t.stageWrite(SequenceGen.sequences(spark, 20, seed = 900L + step)
            .withColumn("doc_id", concat(lit(s"a$step-"), col("doc_id"))), s"append-$step"))
        case "cow" => Maintenance.mergeInto(spark, t, mergeBatch(step))
        case "mor" => Maintenance.mergeMor(spark, t, mergeBatch(step))
        case "delete-mor" =>
          val ids = liveIds()
          val i = rnd.nextInt(ids.size - 8)
          Maintenance.deleteWhereMor(spark, t, Maintenance.DocIdBetween(ids(i), ids(i + 7)))
        case "compact" =>
          Maintenance.compact(spark, t, targetFileBytes = 64L * 1024 * 1024,
            smallFileThreshold = Some(64L * 1024 * 1024))
        case "materialize" => Maintenance.materializeDeletes(spark, t)
        case "add-column" => t.evolveSchema(Seq(graft.table.AddColumn("quality", "DOUBLE")))
      }
      snaps += t.metadata.currentSnapshotId.get
    }
    val ids = snaps.distinct.toIndexedSeq
    def digest(df: DataFrame): Map[String, (Long, Long)] =
      df.groupBy(Changelog.ChangeTypeCol)
        .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ranges: Seq[(Option[Long], Long)] = (None, ids(rnd.nextInt(ids.size))) +:
      Seq.fill(8) {
        val pick = rnd.shuffle(ids.indices.toList).take(2).sorted
        (Some(ids(pick.head)), ids(pick.last))
      }
    ranges.foreach { case (from, to) =>
      val newDf = t.scan(spark, Some(to))
      val oldDf = from.map(id => t.scan(spark, Some(id))).getOrElse(newDf.limit(0))
      val reference = oldDf.exceptAll(newDf).withColumn(Changelog.ChangeTypeCol, lit("delete"))
        .unionByName(newDf.exceptAll(oldDf).withColumn(Changelog.ChangeTypeCol, lit("insert")))
      val got = digest(Changelog.changesBetween(spark, t, from, Some(to)))
      assert(got == digest(reference), s"range ($from, $to] after ${history.mkString(",")}")
    }
  }
}
