package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM; sbt forks tests). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` with projection codegen MANDATORY: a native expression whose
    * doGenCode fails to compile aborts the query instead of silently
    * degrading to interpreted eval — so identity tests run under this prove
    * the generated path, not the fallback. */
  def withCodegenOnly[A](body: => A): A =
    withConf("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")(body)

  /** Run `body` with session conf `key` set to `value`, restoring the
    * previous setting (or unsetting it) afterwards. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run `body` with `spark.sql.autoBroadcastJoinThreshold = -1`: reads
    * apply pending merge-on-read deletes by anti-join, never on the driver. */
  def withJoinDeletes[A](body: => A): A =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)
}
