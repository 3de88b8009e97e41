package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Everything one run records, kept in memory and written once at exit.
 *
 * Spans come from the benchmark's own code around each call into an engine
 * module. Spark events come from three listeners registered only while a
 * traced operation runs; each event is tagged with the operation that was
 * current when the listener bus delivered it, which is exact because the bus
 * is drained before the next operation starts.
 */
final class Recorder(val tracing: Boolean) {
  type Rec = Map[String, Any]

  val spans = mutable.ArrayBuffer.empty[Rec]
  val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[Rec]
  val queries = mutable.ArrayBuffer.empty[Rec]
  val triggers = mutable.ArrayBuffer.empty[Rec]
  private val sqlCallSites = mutable.Map.empty[Long, (String, String)]

  /** Operation the events being delivered belong to ("" = none). */
  @volatile var op: String = ""

  private var nextSpan = 0L
  private var open = List.empty[Long]

  /** Runs `f` inside a span named `name` (recorded only on traced runs). */
  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      nextSpan += 1
      val id = nextSpan
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Map("id" -> id, "name" -> name, "parent" -> parent, "op" -> op,
          "start_ns" -> t0, "end_ns" -> t1)
      }
    }

  // ---------------------------------------------------------------- listeners

  /** Keeps the frames of a long call site that belong to the engine or the
    * benchmark; Spark and JDK frames carry no attribution. */
  private def userFrames(longForm: String): String =
    longForm.split("\n").iterator.map(_.trim)
      .filter(f => f.startsWith("graft.") || f.startsWith("perfbench."))
      .mkString("\n")

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Recorder.this.synchronized { sqlCallSites(s.executionId) = (s.description, userFrames(s.details)) }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val execId = prop("spark.sql.execution.id").map(_.toLong)
      // the SQL execution's call site was taken on the calling thread; a job
      // run from a broadcast or subquery thread has no user frame of its own
      val finalStage = e.stageInfos.maxBy(_.stageId)
      val (name, frames) = execId.flatMap(sqlCallSites.get).filter(_._2.nonEmpty)
        .getOrElse((finalStage.name, userFrames(finalStage.details)))
      jobs(e.jobId) = mutable.Map[String, Any](
        "job" -> e.jobId, "op" -> op, "exec" -> execId.getOrElse(-1L),
        "start_ms" -> e.time, "end_ms" -> e.time,
        "name" -> name, "frames" -> frames,
        "stream_batch" -> prop("streaming.sql.batchId").getOrElse(""),
        "stages" -> e.stageIds, "ok" -> true)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages += Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(), "op" -> op,
        "tasks" -> s.numTasks,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ms" -> (if (m == null) 0L else m.executorCpuTime / 1000000L),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "fetch_wait_ms" -> (if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime),
        "spill_bytes" -> (if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled),
        "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten))
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      Recorder.this.synchronized {
        // the query's own id is not the SQL execution id its jobs carry, so
        // jobs are matched to the query planned last before they started
        queries += Map("op" -> op, "func" -> funcName, "ok" -> ok,
          "planned_ms" -> phases.get("planning").map(_.endTimeMs).getOrElse(0L),
          "phases" -> phases.map { case (k, v) => k -> v.durationMs })
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Recorder.this.synchronized {
        triggers += Map("op" -> op, "batch" -> p.batchId, "rows" -> p.numInputRows,
          "durations" -> durations)
      }
    }
  }

  /** Runs one operation with the listeners attached (traced runs only) and
    * every event of the operation delivered before returning. */
  def traced[T](spark: SparkSession, opId: String, attach: Boolean)(f: => T): T = {
    op = opId
    if (!attach) {
      try f finally op = ""
    } else {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
      try f
      finally {
        PerfbenchBus.drain(spark.sparkContext)
        spark.streams.removeListener(streamListener)
        spark.listenerManager.unregister(queryListener)
        spark.sparkContext.removeSparkListener(sparkListener)
        op = ""
      }
    }
  }

  def toJson: Map[String, Any] = synchronized {
    Map("spans" -> spans.toSeq, "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.toSeq, "queries" -> queries.toSeq, "triggers" -> triggers.toSeq)
  }
}
