package graft

import org.apache.spark.sql.functions._

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.table.TokenTable

/** Merge-on-read MERGE: O(batch) commits (keys + append, never a rewrite)
  * that must converge to exactly the copy-on-write result on a unique-key
  * table, across stacked batches, deletes, re-inserts and compaction. */
class MorMergeSpec extends SparkSpec {

  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(col("doc_id"), col("tokens"), col("source")))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def fresh(dirTag: String): TokenTable =
    SequenceGen.createTable(spark, tmpDir(dirTag) + "/tbl", 1000, 4)

  private def batch(t: TokenTable) = {
    val upd = t.scan(spark).filter(pmod(xxhash64(col("doc_id")), lit(5)) === 0)
      .select(col("doc_id"), col("tokens"), col("n_tok"),
        lit("upd").as("source"), lit("upsert").as("_op"))
    val ins = SequenceGen.sequences(spark, 50, seed = 77L)
      .select(concat(lit("new"), col("doc_id")).as("doc_id"), col("tokens"),
        col("n_tok"), lit("ins").as("source"), lit("upsert").as("_op"))
    val del = t.scan(spark).filter(pmod(xxhash64(col("doc_id")), lit(5)) === 1)
      .select(col("doc_id"), col("tokens"), col("n_tok"),
        col("source"), lit("delete").as("_op"))
    upd.unionByName(ins).unionByName(del).localCheckpoint()
  }

  test("mergeMor == mergeInto row-for-row; seed files never rewritten") {
    val tMor = fresh("mor-a")
    val tCow = fresh("mor-b")
    val b = batch(tMor) // same content for both (deterministic generators)
    val seedPaths = tMor.liveFiles().map(_.path).toSet
    Maintenance.mergeMor(spark, tMor, b)
    assert(seedPaths.subsetOf(tMor.liveFiles().map(_.path).toSet),
      "MoR merge rewrote data files")
    assert(tMor.metadata.currentSnapshot.exists(_.deletes.nonEmpty))
    Maintenance.mergeInto(spark, tCow, b)
    assert(checksum(tMor.scan(spark)) == checksum(tCow.scan(spark)),
      "MoR and CoW merge diverged")
  }

  test("stacked MoR merges: the later batch wins; delete then re-insert survives") {
    val t = fresh("mor-stack")
    val d0 = t.scan(spark).select(min(col("doc_id"))).head.getString(0)
    def payload(src: String, op: String) = {
      import spark.implicits._
      Seq((d0, Seq(9, 9), 2, src, op)).toDF("doc_id", "tokens", "n_tok", "source", "_op")
    }
    Maintenance.mergeMor(spark, t, payload("v1", "upsert"))
    Maintenance.mergeMor(spark, t, payload("v2", "upsert"))
    val got = t.scan(spark).filter(col("doc_id") === d0).select("source").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("v2"), s"got ${got.toSeq}")
    Maintenance.mergeMor(spark, t, payload("x", "delete"))
    assert(t.scan(spark).filter(col("doc_id") === d0).count() == 0)
    Maintenance.mergeMor(spark, t, payload("v3", "upsert"))
    val back = t.scan(spark).filter(col("doc_id") === d0).select("source").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("v3"))
    assert(t.scan(spark).count() == 1000)
  }

  test("compaction materializes MoR-merge keys without resurrecting or losing rows") {
    val t = fresh("mor-compact")
    Maintenance.mergeMor(spark, t, batch(t))
    val before = checksum(t.scan(spark))
    Maintenance.compact(spark, t, targetFileBytes = 4 << 20,
      smallFileThreshold = Some(64 << 20))
    Maintenance.materializeDeletes(spark, t)
    assert(t.metadata.currentSnapshot.forall(_.deletes.isEmpty))
    assert(checksum(t.scan(spark)) == before, "materialization changed content")
  }

  test("a rewrite planned before a MoR merge conflicts instead of resurrecting rows") {
    val root = tmpDir("mor-race") + "/tbl"
    val t1 = SequenceGen.createTable(spark, root, 600, 4) // planning view cached
    val t2 = TokenTable.load(spark, root)                 // concurrent MoR writer
    val d0 = t1.scan(spark).select(min(col("doc_id"))).head.getString(0)
    import spark.implicits._
    Maintenance.mergeMor(spark, t2,
      Seq((d0, Seq(5), 1, "v2", "upsert")).toDF("doc_id", "tokens", "n_tok", "source", "_op"))
    // t1 compacts from its pre-merge metadata: the rewrite would restamp
    // d0's OLD row past the delete key — commit must conflict, not resurrect
    intercept[graft.table.CommitConflictException] {
      Maintenance.compact(spark, t1, targetFileBytes = 1 << 20,
        smallFileThreshold = Some(64 << 20))
    }
    t1.refresh()
    val rows = t1.scan(spark).filter(col("doc_id") === d0)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("v2"), s"got $rows")
    // a REPLANNED compact (fresh metadata, deletes read through) succeeds
    // and materializes the key without resurrecting the old row
    Maintenance.compact(spark, t1, targetFileBytes = 1 << 20,
      smallFileThreshold = Some(64 << 20))
    val after = t1.scan(spark).filter(col("doc_id") === d0)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(after == Seq("v2"), s"post-compact got $after")
    assert(t1.scan(spark).count() == 600)
  }

  test("a MoR merge landing mid-plan on a shared table conflicts; retry converges") {
    // The ADVICE-r4 race: with live files and pending-delete paths read from
    // the volatile metadata SEPARATELY, a mergeMor landing between the reads
    // puts its delete path into the planned set while its appended file is
    // missing from the victim view — commit validation passes and a second
    // live copy of the upserted doc_id lands. The one-snapshot planning rule
    // must turn this into a CommitConflictException instead.
    val t = fresh("mor-midplan")
    val d0 = t.scan(spark).select(min(col("doc_id"))).head.getString(0)
    import spark.implicits._
    def payload(src: String) = Seq((d0, Seq(8), 1, src, "upsert"))
      .toDF("doc_id", "tokens", "n_tok", "source", "_op")
    graft.maintenance.Failpoints.armCallback("merge.after-live") { () =>
      Maintenance.mergeMor(spark, t, payload("mor"))
    }
    try {
      intercept[graft.table.CommitConflictException] {
        Maintenance.mergeInto(spark, t, payload("cow"))
      }
    } finally graft.maintenance.Failpoints.reset()
    val rows = t.scan(spark).filter(col("doc_id") === d0)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("mor"), s"expected exactly the MoR row, got $rows")
    // the retrying wrapper replans against the MoR state and lands cleanly
    Maintenance.mergeIntoRetrying(spark, t, payload("cow2"))
    val after = t.scan(spark).filter(col("doc_id") === d0)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(after == Seq("cow2"), s"got $after")
    assert(t.scan(spark).count() == 1000)
  }

  test("full-row upsert contract: evolved columns null out on MoR-updated rows (CoW preserves)") {
    import spark.implicits._
    import graft.table.AddColumn
    // evolve + backfill `lang` by rewriting the table with the column set
    val t = fresh("mor-evolved")
    t.evolveSchema(Seq(AddColumn("lang", "STRING")))
    val backfilled = t.scan(spark).drop("lang").withColumn("lang", lit("en"))
    t.commit("append", t.stageWrite(backfilled, "backfill"),
      replaced = t.liveFiles().map(_.path).toSet,
      replacedRange = graft.table.TokenTable.docRange(t.liveFiles()))
    val d0 = t.scan(spark).select(min(col("doc_id"))).head.getString(0)
    assert(t.scan(spark).filter(col("doc_id") === d0).head.getAs[String]("lang") == "en")
    // CoW merge preserves the evolved value on the updated row...
    val batch = Seq((d0, Seq(7), 1, "up", "upsert"))
      .toDF("doc_id", "tokens", "n_tok", "source", "_op")
    Maintenance.mergeInto(spark, t, batch)
    val cow = t.scan(spark).filter(col("doc_id") === d0).select("source", "lang").head
    assert(cow.getString(0) == "up" && cow.getString(1) == "en")
    // ...while a MoR upsert is a FULL-ROW replace: lang is null afterwards
    // (the documented O(batch) trade — never reads target values)
    Maintenance.mergeMor(spark, t, batch.withColumn("source", lit("up2")))
    val mor = t.scan(spark).filter(col("doc_id") === d0).select("source", "lang").head
    assert(mor.getString(0) == "up2" && mor.isNullAt(1))
    assert(t.scan(spark).count() == 1000)
  }

  /** Stacked MoR merges over one table, with the model of `source` per
    * key they leave: (table root, model, keys by class). */
  private lazy val stacked: (String, Map[String, String], Map[String, Seq[String]]) = {
    import spark.implicits._
    val t = fresh("mor-lookups")
    val ids = t.scan(spark).select("doc_id").collect().map(_.getString(0)).sorted.toIndexedSeq
    var model = t.scan(spark).select("doc_id", "source").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def merge(rows: Seq[(String, String, String)]): Unit = {
      Maintenance.mergeMor(spark, t, rows.map { case (k, src, op) => (k, Seq(1, 2), 2, src, op) }
        .toDF("doc_id", "tokens", "n_tok", "source", "_op"))
      rows.foreach { case (k, src, op) => if (op == "upsert") model += k -> src else model -= k }
    }
    val updated = ids.slice(100, 110)
    // below every appended file's key range: only seed files hold them
    val deleted = ids.slice(30, 40)
    val reinserted = ids.slice(500, 505)
    val fresh0 = Seq("zz-new-0", "zz-new-1")
    merge(updated.map(k => (k, "u1", "upsert")) ++ deleted.map(k => (k, "x", "delete")) ++
      reinserted.map(k => (k, "x", "delete")) ++ fresh0.map(k => (k, "i1", "upsert")))
    merge(updated.take(5).map(k => (k, "u2", "upsert")) ++
      reinserted.map(k => (k, "r2", "upsert")) ++ Seq((fresh0.head, "x", "delete")))
    merge(updated.drop(8).map(k => (k, "x", "delete")) ++ Seq((ids(700), "u3", "upsert")))
    assert(t.metadata.currentSnapshot.exists(_.deletes.size == 3))
    (t.root.toString, model, Map(
      "live" -> ids.slice(900, 905), "updated" -> (updated :+ ids(700)),
      "deleted" -> deleted, "re-inserted" -> reinserted,
      "absent" -> (fresh0.take(1) ++ Seq("doc-none", ids(42) + "x"))))
  }

  private def checkLookups(t: TokenTable): Unit = {
    val (_, model, keys) = stacked
    keys.foreach { case (cls, ks) => ks.foreach { k =>
      val got = t.lookup(spark, k).select("source").collect().map(_.getString(0)).toSeq
      assert(got == model.get(k).toSeq, s"$cls key $k: got $got, model ${model.get(k)}")
    } }
    assert(keys("absent").forall(k => !model.contains(k)))
    val scanned = t.scan(spark).select("doc_id", "source").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(scanned == model)
  }

  test("lookups and scans after stacked MoR merges match the model (driver-side deletes)") {
    val t = TokenTable.load(spark, stacked._1)
    checkLookups(t)
    assert(t.deleteKeyCacheState._1.nonEmpty, "the driver path loaded no key set")
  }

  test("lookups and scans after stacked MoR merges match the model (anti-join deletes)") {
    val t = TokenTable.load(spark, stacked._1)
    withJoinDeletes(checkLookups(t))
    assert(t.deleteKeyCacheState._1.isEmpty, "the join path loaded keys on the driver")
  }

  test("a lookup whose every candidate file is masked runs no Spark job") {
    val t = TokenTable.load(spark, stacked._1)
    val (_, model, keys) = stacked
    val sc = spark.sparkContext
    def jobs(k: String): Int = {
      val group = s"lookup-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, "lookup")
      try t.lookup(spark, k).collect() finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    keys("deleted").foreach(k => assert(jobs(k) == 0, s"deleted key $k ran a job"))
    // the counter sees a lookup that reads files; the masked old copy of an
    // updated key costs no second job either
    (keys("live") ++ keys("updated").filter(model.contains)).foreach(k =>
      assert(jobs(k) == 1, s"key $k"))
  }

  test("lookup and scan take files and deletes from one metadata view") {
    // A MoR commit on the same instance between reading the files and
    // reading the deletes would mask the old row while the new file is
    // still missing: the key would read as absent.
    val t = fresh("mor-view")
    val d0 = t.scan(spark).select(min(col("doc_id"))).head.getString(0)
    val before = t.lookup(spark, d0).select("source").head.getString(0)
    import spark.implicits._
    def upsert(src: String) = Seq((d0, Seq(4), 1, src, "upsert"))
      .toDF("doc_id", "tokens", "n_tok", "source", "_op")
    def armMerge(src: String): Unit = graft.maintenance.Failpoints.armCallback(
      "table.read.after-meta")(() => Maintenance.mergeMor(spark, t, upsert(src)))
    try {
      armMerge("v1")
      val got = t.lookup(spark, d0).select("source").collect().map(_.getString(0)).toSeq
      assert(got == Seq(before) || got == Seq("v1"), s"lookup during a commit got $got")
      armMerge("v2")
      val scanned = t.scan(spark).filter(col("doc_id") === d0)
        .select("source").collect().map(_.getString(0)).toSeq
      assert(scanned == Seq("v1") || scanned == Seq("v2"), s"scan during a commit got $scanned")
    } finally graft.maintenance.Failpoints.reset()
    assert(t.lookup(spark, d0).select("source").collect().map(_.getString(0)).toSeq == Seq("v2"))
    assert(t.scan(spark).count() == 1000)
  }

  test("merge_mor runs from the YAML pipeline DSL") {
    val t = fresh("mor-dsl")
    val b = batch(t)
    val res = graft.plans.PipelineRunner.run(spark, t,
      graft.plans.PipelineDsl.parse("- implementation: merge_mor\n"),
      mergeBatch = Some(b))
    assert(res.head.snapshotId.nonEmpty)
    assert(t.scan(spark).filter(col("source") === "upd").count() > 0)
  }
}
