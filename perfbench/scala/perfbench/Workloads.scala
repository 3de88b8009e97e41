package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gen.SequenceGen
import graft.maintenance.Maintenance
import graft.plans.{PipelineDsl, PipelineRunner, PlanOptimizer}
import graft.streaming.Incremental
import graft.table.{Changelog, DataFileMeta, TokenTable}

/** Shared state of one run: the session, the recorder, and what the run has
  * measured so far. */
final class Ctx(
    val spark: SparkSession, val rec: Recorder, val seed: Long, val seconds: Double,
    val work: Path) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[String]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val sizes = mutable.LinkedHashMap.empty[String, Any]
  val totals = mutable.LinkedHashMap.empty[String, Any]
  private val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One timed operation of the closed loop. On a traced run every other
    * operation of each kind runs with the listeners attached, so the two
    * halves give the tracing overhead. A throw counts as a failed operation;
    * `verify` runs after the timer stops and returns a mismatch or None. */
  def op[T](kind: String, info: Map[String, Any] = Map.empty)(f: => T)(
      verify: T => Option[String]): Option[T] = {
    val n = perKind(kind)
    perKind(kind) = n + 1
    val id = s"$kind-$n"
    val attach = rec.tracing && (n % 2 == 1 || kind == "housekeeping")
    val gc0 = gcMs()
    var t0, t1, cpu0, cpu1 = 0L
    val startMs = System.currentTimeMillis()
    var endMs = startMs
    val result =
      try {
        Right(rec.traced(spark, id, attach) {
          rec.span(s"op.$kind") {
            cpu0 = os.getProcessCpuTime
            t0 = System.nanoTime()
            try f
            finally {
              t1 = System.nanoTime()
              cpu1 = os.getProcessCpuTime
              endMs = System.currentTimeMillis()
            }
          }
        })
      } catch { case e: Throwable => Left(e) }
    val problem = result match {
      case Left(e)  => Some(s"$id threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => verify(v).map(m => s"$id: $m")
    }
    problem.foreach(failures += _)
    ops += Map("id" -> id, "kind" -> kind, "ms" -> (t1 - t0) / 1e6,
      "cpu_ms" -> (cpu1 - cpu0) / 1e6, "traced" -> attach,
      "ok" -> problem.isEmpty, "gc_ms" -> (gcMs() - gc0), "start_ms" -> startMs,
      "end_ms" -> endMs) ++ info
    result.toOption
  }

  /** Operations of `kind` run so far. */
  def count(kind: String): Int = perKind(kind)

  /** Adds what was counted after the timer stopped to the last operation. */
  def annotate(info: Map[String, Any]): Unit = ops(ops.size - 1) ++= info

  /** A correctness check outside any timed operation. */
  def check(name: String, problem: Option[String]): Unit = {
    ops += Map("id" -> name, "kind" -> "check", "ms" -> 0.0, "cpu_ms" -> 0.0, "traced" -> false,
      "ok" -> problem.isEmpty, "gc_ms" -> 0L)
    problem.foreach(p => failures += s"$name: $p")
  }

  def dir(name: String): String = work.resolve(name).toString
}

object Data {
  /** The content hash every workload is checked against. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("doc_id"), col("tokens"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def userBytes(df: DataFrame): Long =
    df.agg(coalesce(sum(col("n_tok").cast("long")), lit(0L))).head().getLong(0) * 4L

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def liveFiles(t: TokenTable): Seq[DataFileMeta] = t.liveFiles(t.refresh())

  /** Table-shape counts read from the table's own metadata. */
  def tableState(t: TokenTable): Map[String, Any] = {
    val m = t.refresh()
    val snap = m.currentSnapshot.get
    val live = t.liveFiles(m)
    val manifests = snap.manifests ++ snap.deletes
    val metaFiles = manifests.map(_.path) ++ snap.manifestList.toSeq
    Map(
      "live_files" -> live.size, "live_bytes" -> live.map(_.bytes).sum,
      "delete_files_pending" -> t.deleteEntriesOf(m).size,
      "manifests_live" -> manifests.size,
      "manifest_bytes" -> metaFiles.map(f => t.fs.getFileStatus(
        new org.apache.hadoop.fs.Path(t.metadataDir, f)).getLen).sum,
      "metadata_versions" -> (t.currentVersion() + 1),
      "snapshots" -> m.snapshots.size)
  }

  /** Live data files and pending delete files of the current snapshot. */
  def allFiles(t: TokenTable): Seq[DataFileMeta] = {
    val m = t.refresh()
    t.liveFiles(m) ++ t.deleteEntriesOf(m)
  }

  def allPaths(t: TokenTable): Set[String] = allFiles(t).map(_.path).toSet

  def filesUnder(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).count() finally s.close()
  }
}

/** A workload: untimed inputs, a repeated set-up, and a closed loop of timed
  * operations from one client. */
abstract class Workload(val c: Ctx) {
  protected def spark: SparkSession = c.spark
  protected def rec: Recorder = c.rec

  /** Inputs and the expected-content model, built once before any set-up. */
  def prepare(): Unit
  /** Builds the starting table under `dir` (timed as `setup_s`). */
  def setUp(dir: String): Unit
  /** JIT and codegen warm-up: the set-up and every operation kind, untimed,
    * on a separate small table under `warm/`. */
  def warmUp(): Unit
  /** One closed-loop iteration. */
  def step(elapsedS: Double): Unit
  /** The timed operation kinds; the window lasts at least `--seconds` and
    * until each kind has run `Workload.MinSamples` times, so that no
    * per-kind median rests on one or two samples. */
  def kinds: Seq[String]
  /** Work after the measured window, then the final content check. */
  def finish(): Unit

  def run(setUps: Int): Unit = {
    def phase(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      c.totals(s"${name}_s") = (System.nanoTime() - t0) / 1e9
    }
    phase("prepare")(prepare())
    phase("warm_up") {
      warmUp()
      Data.deleteTree(c.work.resolve("warm"))
    }
    for (k <- 0 until setUps) {
      if (k > 0) Data.deleteTree(c.work.resolve(s"setup-${k - 1}"))
      val t0 = System.nanoTime()
      setUp(c.dir(s"setup-$k"))
      c.setupS += (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < c.seconds || kinds.exists(c.count(_) < Workload.MinSamples)) step(elapsed)
    c.totals("window_s") = elapsed
    phase("finish")(finish())
  }
}

object Workload {
  val MinSamples = 3

  def apply(name: String, c: Ctx): Workload = name match {
    case "maintain"    => new Maintain(c)
    case "upsert_read" => new UpsertRead(c)
    case other         => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

// ------------------------------------------------------------------ maintain

/** `[compact, zorder]` through the pipeline DSL, each run on a fresh copy of
  * a table of many small hash-scattered files: one curve shuffle, one write,
  * one commit per operation. */
final class Maintain(c: Ctx) extends Workload(c) {
  val nDocs = 8000L
  val nFiles = 32
  val targetFileBytes = 1L << 20
  val yaml =
    s"""- implementation: compact
       |  arguments: {target_file_bytes: $targetFileBytes}
       |- implementation: zorder
       |  arguments: {target_file_bytes: $targetFileBytes}
       |""".stripMargin

  val kinds = Seq("maintain")

  private var base: String = _
  private var expected: (Long, Long) = _
  private var userBytes = 0L
  private var lastOut: Option[Path] = None

  private def pipeline(root: String): Unit = {
    val steps = rec.span("plans.parse") { PipelineDsl.parse(yaml) }
    rec.span("plans.run") { PipelineRunner.run(spark, TokenTable.load(spark, root), steps) }
  }

  def warmUp(): Unit = {
    val d = c.work.resolve("warm")
    SequenceGen.createTable(spark, d.resolve("t").toString, 2000, 8, c.seed + 1)
    for (i <- 0 until 3) {
      Data.copyTree(d.resolve("t"), d.resolve(s"copy-$i"))
      pipeline(d.resolve(s"copy-$i").toString)
    }
    Data.contentHash(TokenTable.load(spark, d.resolve("copy-0").toString).scan(spark))
  }

  def prepare(): Unit = {
    val gen = SequenceGen.sequences(spark, nDocs, c.seed)
    expected = Data.contentHash(gen)
    userBytes = Data.userBytes(gen)
    c.sizes ++= Seq("docs" -> nDocs, "files" -> nFiles, "user_bytes" -> userBytes,
      "target_file_bytes" -> targetFileBytes)
  }

  def setUp(dir: String): Unit = {
    rec.span("gen.create_table") { SequenceGen.createTable(spark, dir, nDocs, nFiles, c.seed) }
    base = dir
  }

  def step(elapsedS: Double): Unit = {
    val out = c.work.resolve(s"maint-${c.ops.size}")
    lastOut.foreach(Data.deleteTree)
    lastOut = Some(out)
    Data.copyTree(Paths.get(base), out)
    val t = TokenTable.load(spark, out.toString)
    val before = Data.allPaths(t)
    val v0 = t.currentVersion()
    c.op("maintain")(pipeline(out.toString))(_ => None)
    val written = Data.allFiles(t).filterNot(f => before.contains(f.path))
    c.annotate(Map("written_bytes" -> written.map(_.bytes).sum, "user_bytes" -> userBytes,
      "files_written" -> written.size, "versions" -> (t.currentVersion() - v0)))
    val rows = Data.liveFiles(t).map(_.records).sum
    c.check(s"rows-${c.ops.size}",
      if (rows == nDocs) None else Some(s"table holds $rows rows, expected $nDocs"))
  }

  def finish(): Unit = {
    val t = TokenTable.load(spark, lastOut.map(_.toString).getOrElse(base))
    val got = Data.contentHash(t.scan(spark))
    c.check("final-content", if (got == expected) None
      else Some(s"content (rows, hash) $got, model $expected"))
    c.totals ++= Data.tableState(t)
    c.totals("user_bytes") = userBytes
    c.totals("steps_out") = PlanOptimizer.optimize(PipelineDsl.parse(yaml)).size
  }
}

// ------------------------------------------------------------- upsert_read

/**
 * Small seeded batches through the streaming merge sinks, then one reader
 * over the table those merges left behind. The window opens with a fixed
 * count of merges (copy-on-write, then merge-on-read), so every run reads a
 * table of the same history; then it reads in a fixed cycle until the window
 * ends: point lookups of four key classes, ~1% range scans and changelogs of
 * consecutive merge snapshots. Housekeeping retires what merge-on-read left
 * after the window.
 *
 * The model of the expected content is independent of the engine: base rows
 * from the generator, then each batch applied in order.
 */
final class UpsertRead(c: Ctx) extends Workload(c) {
  val nDocs = 8000
  val nFiles = 16
  val batchRows = 400
  // hot doc_id window of one batch: 10% of the key space, placed to straddle
  // one boundary of the set-up's equal-width files, so that a copy-on-write
  // batch always rewrites 2 of the 16; the windows of a run are disjoint, so
  // a read meets the pending deletes of at most one merge-on-read batch
  val window = 800
  val cowMerges = 3
  val morMerges = 3
  val nBatches = cowMerges + morMerges
  val rangeKeys = nDocs / 100

  private var table: TokenTable = _
  private val batchDir = c.dir("batches")
  private val src = c.work.resolve("stream-src")
  private val checkpoint = c.dir("stream-checkpoint")
  private val batchSchema = StructType(Seq(
    StructField("doc_id", StringType), StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType), StructField("source", StringType),
    StructField("_seq", LongType), StructField("_op", StringType)))

  private type Doc = (String, Vector[Int], Int, String)
  /** doc_id -> xxhash64(doc_id, tokens) of every live row, as the model sees it. */
  private val model = mutable.HashMap.empty[String, Long]
  /** Per batch, in batch order: (doc_id, op, row hash, user bytes, row). */
  private var batches: IndexedSeq[IndexedSeq[(String, String, Long, Long, Doc)]] = _
  /** Base rows of keys no prepared batch touches: the lookups' live class. */
  private var untouched: Map[String, Doc] = _
  /** Expected (inserted, deleted) (count, xor) of each applied batch. */
  private val changes = mutable.ArrayBuffer.empty[((Long, Long), (Long, Long))]
  private var applied = 0
  /** First key index of each batch's hot window. */
  private val windows = mutable.ArrayBuffer.empty[Int]

  private def key(i: Long) = f"doc$i%012d"

  private def asDoc(r: Row): Doc =
    (r.getString(0), r.getSeq[Int](1).toVector, r.getInt(2), r.getString(3))

  /** Seeded batches of updates, inserts and deletes inside one hot window
    * each, materialized once as one parquet file per batch. Batch tokens
    * lie above the generator's token range, so an update always changes
    * the row. */
  private def writeBatches(): Unit = {
    val rnd = new scala.util.Random(c.seed)
    val fileKeys = nDocs / nFiles
    val slots = rnd.shuffle((0 until nFiles - 1 by 2).toVector).take(nBatches)
    val rows = (0 until nBatches).flatMap { b =>
      val lo = fileKeys * slots(b) + (2 * fileKeys - window) / 2
      windows += lo
      val picks = rnd.shuffle((0 until window).toVector).take(batchRows).sorted
      picks.zipWithIndex.map { case (off, i) =>
        val u = rnd.nextDouble()
        val gid = b.toLong * batchRows + i
        val source = SequenceGen.sources(rnd.nextInt(SequenceGen.sources.size))
        if (u < 0.6) Row(b, key(lo + off), "upsert", gid, 16 + rnd.nextInt(497), source)
        else if (u < 0.8) Row(b, key(lo + off), "delete", gid, 0, "web")
        else Row(b, f"${key(lo + off)}-b$b%04d", "upsert", gid, 16 + rnd.nextInt(497), source)
      }
    }
    val schema = StructType(Seq(StructField("_batch", IntegerType),
      StructField("doc_id", StringType), StructField("_op", StringType),
      StructField("_gid", LongType), StructField("n_tok", IntegerType),
      StructField("source", StringType)))
    spark.createDataFrame(rows.asJava, schema)
      .select(col("_batch"), col("doc_id"),
        when(col("_op") === "delete", typedLit(Array.empty[Int]))
          .otherwise(transform(sequence(lit(0), col("n_tok") - 1),
            j => (pmod(col("_gid") * 37 + j, lit(50021)) + 50021).cast("int"))).as("tokens"),
        col("n_tok"), col("source"), lit(0L).as("_seq"), col("_op"))
      .repartition(col("_batch"))
      .write.partitionBy("_batch").parquet(batchDir)
  }

  /** The parquet file holding batch `b`. */
  private def batchFile(b: Int): Path = {
    val s = Files.list(Paths.get(batchDir, s"_batch=$b"))
    try s.iterator.asScala.find(_.toString.endsWith(".parquet")).get finally s.close()
  }

  def prepare(): Unit = {
    writeBatches()
    SequenceGen.sequences(spark, nDocs, c.seed)
      .select(col("doc_id"), xxhash64(col("doc_id"), col("tokens"))).collect()
      .foreach(r => model(r.getString(0)) = r.getLong(1))
    val rows = spark.read.parquet(batchDir)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"), col("_batch"),
        col("_op"), xxhash64(col("doc_id"), col("tokens")))
      .collect()
    val byBatch = rows.groupBy(_.getInt(4))
    batches = (0 until nBatches).map(b => byBatch(b).toIndexedSeq.sortBy(_.getString(0))
      .map(r => (r.getString(0), r.getString(5), r.getLong(6), r.getInt(2) * 4L, asDoc(r))))
    untouched = SequenceGen.sequences(spark, nDocs, c.seed)
      .filter(col("doc_id").isin(cleanKeys(""): _*)).collect().map(asDoc)
      .map(d => d._1 -> d).toMap
    c.sizes ++= Seq("docs" -> nDocs, "files" -> nFiles, "batch_rows" -> batchRows,
      "hot_window_keys" -> window, "batches_prepared" -> nBatches, "range_keys" -> rangeKeys)
  }

  /** 32 seeded keys (with `suffix`) from the middle of set-up files that no
    * batch window reaches, where a lookup finds no pending delete and no
    * small merge file: the clean path. Six disjoint windows of two files
    * each leave four of the sixteen files clean. */
  private def cleanKeys(suffix: String): IndexedSeq[String] = {
    val fileKeys = nDocs / nFiles
    val windowFiles = windows.flatMap(lo => Seq(lo / fileKeys, (lo + window - 1) / fileKeys))
    val clean = (0 until nFiles).filterNot(windowFiles.contains)
    val r = new scala.util.Random(c.seed ^ suffix.hashCode)
    (0 until 32).map { _ =>
      key(clean(r.nextInt(clean.size)) * fileKeys + fileKeys / 5 + r.nextInt(fileKeys * 3 / 5)) +
        suffix
    }
  }

  /** Applies the next batch to the model and records its expected changelog. */
  private def applyNext(): Unit = {
    var ins = (0L, 0L)
    var del = (0L, 0L)
    batches(applied).foreach { case (k, op, h, _, _) =>
      model.get(k).foreach(old => del = (del._1 + 1, del._2 ^ old))
      if (op == "upsert") {
        ins = (ins._1 + 1, ins._2 ^ h)
        model(k) = h
      } else model.remove(k)
    }
    changes += ((ins, del))
    applied += 1
  }

  private def modelHash(lo: String = "", hi: String = "\uffff"): (Long, Long) = {
    var n = 0L
    var x = 0L
    model.foreach { case (k, h) => if (k >= lo && k <= hi) { n += 1; x ^= h } }
    (n, x)
  }

  /** The generator's rows range-partitioned by doc_id into `files` files
    * with disjoint key ranges, so a batch's hot window prunes to a few. */
  private def clusteredTable(dir: String, docs: Long, files: Int): TokenTable =
    rec.span("gen.create_table") {
      val t = TokenTable.create(spark, dir)
      val rows = SequenceGen.sequences(spark, docs, c.seed)
        .repartitionByRange(files, col("doc_id")).sortWithinPartitions(col("doc_id"))
      t.commit("append", t.stageWrite(rows, "gen-sorted"))
      t
    }

  /** One batch file through one AvailableNow trigger of the streaming sink. */
  private def trigger(root: String, srcDir: Path, ckpt: String, cow: Boolean): Unit = {
    val stream = spark.readStream.schema(batchSchema).parquet(srcDir.toString)
    val q = rec.span(if (cow) "streaming.merge_cow" else "streaming.merge_mor") {
      if (cow) Incremental.streamMerge(stream, root, ckpt)
      else Incremental.streamMergeMor(stream, root, ckpt)
    }
    rec.span("streaming.await") { q.awaitTermination() }
    q.exception.foreach(e => throw e)
  }

  /** Consecutive snapshots of the merges, oldest first. */
  private def batchPairs(t: TokenTable, n: Int): IndexedSeq[(Long, Long)] = {
    val snaps = t.refresh().snapshots.sortBy(_.snapshotId).map(_.snapshotId)
    snaps.takeRight(n + 1).sliding(2).map(s => (s(0), s(1))).toIndexedSeq
  }

  private def housekeeping(t: TokenTable): Unit = {
    rec.span("maintenance.materialize") { Maintenance.materializeDeletes(spark, t) }
    rec.span("table.expire") { t.expireSnapshots(retainLast = 1) }
    c.totals("files_listed") = Data.filesUnder(Paths.get(t.root.toString))
    rec.span("table.remove_orphans") { t.removeOrphans(0L) }
  }

  def warmUp(): Unit = {
    val d = c.work.resolve("warm")
    val t = clusteredTable(d.resolve("t").toString, nDocs, 4)
    Files.createDirectories(d.resolve("src"))
    for (b <- 0 until 2) {
      Files.copy(batchFile(b), d.resolve("src").resolve(s"batch-$b.parquet"))
      trigger(t.root.toString, d.resolve("src"), d.resolve("ckpt").toString, cow = b == 0)
    }
    t.lookup(spark, key(7)).collect()
    Data.contentHash(t.scan(spark, docIdRange = Some((key(10), key(100))))
      .filter(col("doc_id").between(key(10), key(100))))
    batchPairs(t, 2).foreach { case (a, b) =>
      Changelog.changesBetween(spark, t, Some(a), Some(b))
        .groupBy(col(Changelog.ChangeTypeCol)).count().collect()
    }
    housekeeping(t)
    Data.contentHash(t.scan(spark))
  }

  def setUp(dir: String): Unit = { table = clusteredTable(dir, nDocs, nFiles) }

  // ---- the window: merges, then reads

  private var reads: Iterator[String] = _
  private var lookups: Map[String, IndexedSeq[String]] = _
  private var expectedRows: Map[String, Doc] = _
  private var pairs: IndexedSeq[(Long, Long)] = _
  private var changelogs = 0
  private val rnd = new scala.util.Random(c.seed ^ 0x7eadL)

  /** Lookups of each key class are their own kind: the classes take
    * different paths (pending deletes, extra small files, nothing to
    * find), and one median over all of them would fall between clusters. */
  val lookupClasses = Seq("live", "updated", "deleted", "absent")
  val kinds = Seq("merge_cow", "merge_mor") ++ lookupClasses.map(c => s"lookup_$c") ++
    Seq("range_scan", "changelog")

  def step(elapsedS: Double): Unit =
    if (applied < nBatches) merge(cow = applied < cowMerges)
    else {
      if (reads == null) startReads()
      reads.next() match {
        case "scan"      => rangeScan()
        case "changelog" => changelog()
        case cls         => lookup(cls)
      }
    }

  private def merge(cow: Boolean): Unit = {
    val b = applied
    Files.createDirectories(src)
    Files.copy(batchFile(b), src.resolve(f"batch-$b%05d.parquet"))
    val before = Data.liveFiles(table)
    val beforePaths = Data.allPaths(table)
    val v0 = table.currentVersion()
    c.op(if (cow) "merge_cow" else "merge_mor") {
      trigger(table.root.toString, src, checkpoint, cow)
    }(_ => None)
    applyNext()
    val added = Data.allFiles(table).filterNot(f => beforePaths.contains(f.path))
    val livePaths = Data.liveFiles(table).map(_.path).toSet
    val removed = before.filterNot(f => livePaths.contains(f.path))
    c.annotate(Map("written_bytes" -> added.map(_.bytes).sum,
      "files_written" -> added.size, "files_rewritten" -> removed.size,
      "batch_user_bytes" -> batches(b).map(_._4).sum, "files_live_before" -> before.size,
      "versions" -> (table.currentVersion() - v0)))
  }

  /** Key classes and expected rows for the table the merges left. */
  /** Key classes and expected rows for the table the merges left. Live and
    * absent keys take the clean path; updated and deleted keys come from
    * the merge-on-read batches, whose pending deletes the lookup applies. */
  private def startReads(): Unit = {
    val latest = mutable.Map.empty[String, (String, Doc)]
    for (b <- 0 until applied; (k, op, _, _, doc) <- batches(b)) latest(k) = (op, doc)
    val recent = batches.drop(cowMerges).flatten.map(_._1).toSet
    def pick(op: String) =
      rnd.shuffle(latest.collect { case (k, (`op`, _)) if recent(k) => k }.toVector.sorted).take(32)
    val updated = pick("upsert")
    lookups = Map(
      "live" -> untouched.keys.toVector.sorted,
      "updated" -> updated,
      "deleted" -> pick("delete"),
      "absent" -> cleanKeys("-none"))
    expectedRows = untouched ++ updated.map(k => k -> latest(k)._2)
    pairs = batchPairs(table, applied)
    c.totals("merges_before_reads") = applied
    // the reader's fixed cycle, so every seed runs the same mix; the seed
    // picks the keys and the ranges
    reads = Iterator.continually(lookupClasses ++ Seq("scan", "changelog")).flatten
  }

  private def lookup(cls: String): Unit = {
    val pool = lookups(cls)
    if (pool.isEmpty) return
    val k = pool(rnd.nextInt(pool.size))
    val planned = if (rec.tracing) rec.span("table.plan_files") {
      table.planFilesForKey(k).size
    } else 0
    c.op(s"lookup_$cls", Map("files_planned" -> planned)) {
      rec.span("table.lookup") { table.lookup(spark, k).collect() }
    } { rows =>
      val got = rows.map(asDoc).toSeq
      val want = expectedRows.get(k).toSeq
      if (got == want) None else Some(s"lookup $k returned ${got.size} rows, expected ${want.size}")
    }.foreach(rows => c.annotate(Map("rows" -> rows.length)))
  }

  /** A 1% range inside a merge-on-read batch's window, where the reader
    * applies that batch's pending deletes. */
  private def rangeScan(): Unit = {
    val a = windows(cowMerges + rnd.nextInt(morMerges)) + rnd.nextInt(window - rangeKeys)
    val (lo, hi) = (key(a), key(a + rangeKeys))
    val planned = if (rec.tracing) rec.span("table.plan_files") {
      table.planFiles(docIdRange = Some((lo, hi))).size
    } else 0
    val want = modelHash(lo, hi)
    c.op("range_scan", Map("files_planned" -> planned)) {
      rec.span("table.scan") {
        // scan prunes whole files by key range; rows outside it are the reader's to drop
        Data.contentHash(table.scan(spark, docIdRange = Some((lo, hi)))
          .filter(col("doc_id").between(lo, hi)))
      }
    } { got => if (got == want) None else Some(s"range [$lo, $hi] read $got, model $want") }
  }

  /** Changes of consecutive merge snapshots, newest pair first, as a CDC
    * consumer catching up reads them. */
  private def changelog(): Unit = {
    if (pairs.isEmpty) return
    val i = pairs.size - 1 - changelogs % pairs.size
    changelogs += 1
    val (from, to) = pairs(i)
    val (ins, del) = changes(changes.size - pairs.size + i)
    val diffed = if (rec.tracing) {
      val m = table.metadata
      (table.manifestEntries(m.snapshot(from).get) ++ table.manifestEntries(m.snapshot(to).get))
        .map(_.path).distinct.size
    } else 0
    c.op("changelog", Map("files_diffed" -> diffed)) {
      rec.span("table.changelog") {
        Changelog.changesBetween(spark, table, Some(from), Some(to))
          .groupBy(col(Changelog.ChangeTypeCol))
          .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("tokens"))))
          .collect()
      }
    } { rows =>
      val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = Map("insert" -> ins, "delete" -> del).filter(_._2._1 > 0)
      if (got == want) None else Some(s"changes ($from, $to] $got, model $want")
    }
  }

  def finish(): Unit = {
    c.totals ++= Data.tableState(table).map { case (k, v) => s"read_$k" -> v }
    val pending = table.deleteEntriesOf(table.refresh()).map(_.records).sum
    c.op("housekeeping", Map("keys_retired" -> pending))(housekeeping(table))(_ => None)
    val got = Data.contentHash(table.scan(spark))
    val want = modelHash()
    c.check("final-content", if (got == want) None
      else Some(s"content (rows, hash) $got, model $want"))
    c.totals ++= Data.tableState(table)
    c.totals("user_bytes") = Data.userBytes(table.scan(spark))
  }
}
