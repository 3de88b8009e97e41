package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in one JVM: `--workload --seed --seconds --trace
 * --setups --work --out`; `setup_s` is the median of the `--setups`
 * set-ups. Writes every raw measurement to `--out` as JSON; the Python side
 * turns it into metrics. A comma-separated `--workload` list runs each in
 * turn (the build's class-loading training run) and writes the last.
 * Exits nonzero only if the run itself broke.
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = a("workload").split(",").toSeq.map { name =>
      val rec = new Recorder(a("trace") == "1")
      val dir = Files.createDirectories(work.resolve(name))
      val c = new Ctx(spark, rec, a("seed").toLong, a("seconds").toDouble, dir)
      Workload(name, c).run(a("setups").toInt)
      Map(
        "env" -> Map("cores" -> cores, "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
          "spark" -> spark.version, "jdk" -> System.getProperty("java.version")),
        "setup_s" -> c.setupS.toSeq, "sizes" -> c.sizes.toMap, "totals" -> c.totals.toMap,
        "ops" -> c.ops.toSeq, "failures" -> c.failures.toSeq) ++ rec.toJson
    }
    spark.stop()
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(results.last))
  }
}
