package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{AccessDeniedException, FileSystemException, Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.maintenance.Failpoints

/** Local-filesystem quirks the commit and listing primitives must survive:
  * mounts without hard links, and files deleted while a walk is running. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterEach {

  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  override def afterEach(): Unit = Failpoints.reset()

  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  private def put(p: java.nio.file.Path, s: String): java.nio.file.Path = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  test("publish: first wins, the loser leaves dst alone, tmp never leaks — with or without hard links") {
    // None: link(2) works; Some: createLink throws as on a mount without
    // hard links, so publish must fall back to exists+rename
    val linkFailures: Seq[Option[() => Throwable]] = Seq(
      None,
      Some(() => new UnsupportedOperationException("links unsupported")),
      Some(() => new FileSystemException("link: Operation not permitted")))
    for (failure <- linkFailures) {
      def publish(tmpFile: java.nio.file.Path, dst: Path): Boolean = {
        failure.foreach(f => Failpoints.armCallback("table.publish.link")(() => throw f()))
        TokenTable.firstWinsPublish(fs, new Path(tmpFile.toUri), dst)
      }
      val dir = tmp("publish")
      val dst = new Path(dir.toUri.toString, "v1.json")
      val tmp1 = put(dir.resolve("a.tmp"), "first")
      assert(publish(tmp1, dst))
      assert(TokenTable.readString(fs, dst) == "first")
      assert(!Files.exists(tmp1))
      val tmp2 = put(dir.resolve("b.tmp"), "second")
      assert(!publish(tmp2, dst))
      assert(TokenTable.readString(fs, dst) == "first")
      assert(!Files.exists(tmp2))
    }
  }

  test("listing skips files deleted mid-walk") {
    val dir = tmp("walk")
    val names = Seq("a/x.parquet", "b/y.parquet", "c/z.parquet", "top.parquet", "w.parquet")
    names.foreach(n => put(dir.resolve(n), n))
    // at the first visited file, delete every top-level entry: entries the
    // walk already listed but has not visited yet now fail their stat
    Failpoints.armCallback("table.list.visit") { () =>
      Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path]).foreach { p =>
        if (Files.isDirectory(p)) Files.list(p).forEach(q => Files.delete(q))
        Files.delete(p)
      }
    }
    val listed = TokenTable.listParquetFast(fs, new Path(dir.toUri))
    assert(listed.size == 1, listed)
    assert(Files.list(dir).count() == 0)
    // a directory that vanished before the walk lists empty
    assert(TokenTable.listParquetFast(fs, new Path(dir.resolve("gone").toUri)).isEmpty)
  }

  test("listing fails loudly on any I/O error other than a vanished entry") {
    val walk = new TokenTable.ParquetWalk
    val p = Paths.get("/nonexistent/x.parquet")
    intercept[AccessDeniedException](walk.visitFileFailed(p, new AccessDeniedException(p.toString)))
    assert(walk.visitFileFailed(p, new java.nio.file.NoSuchFileException(p.toString)) ==
      java.nio.file.FileVisitResult.CONTINUE)
  }
}
