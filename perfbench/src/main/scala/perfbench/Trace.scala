package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it;
  * -1 on a listener span means "resolve by time containment at write". */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, attrs: Map[String, Any])

/** In-memory span recorder. Harness spans nest on the calling thread;
  * listener spans (jobs, stages, Catalyst phases, streaming epochs)
  * arrive on Spark's listener bus and get their parent at write time:
  * the innermost harness span open when they started. Nothing is
  * written until [[write]], at exit.
  */
final class Trace(val enabled: Boolean) {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Long]()
  private var nextId = 0L

  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** Runs `body` inside a span; returns its result and wall seconds.
    * The wall time is measured whether or not tracing is on. */
  def timed[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (T, Double) = {
    val id = newId()
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    val t0 = nowNs()
    try {
      val r = body
      (r, (nowNs() - t0) / 1e9)
    } finally {
      stack.pop()
      if (enabled) spans.add(Span(id, parent, name, t0, nowNs(), attrs))
    }
  }

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    timed(name, attrs)(body)._1

  /** A span reported by a listener, with epoch-millisecond bounds. */
  def external(name: String, startMs: Long, endMs: Long, attrs: Map[String, Any]): Unit =
    if (enabled) spans.add(Span(newId(), -1L, name, startMs * 1000000L,
      math.max(endMs, startMs) * 1000000L, attrs))

  def write(path: String): Unit = {
    val all = spans.asScala.toSeq
    val (own, ext) = all.partition(_.parent >= 0)
    val byStart = own.sortBy(_.startNs)
    def innermost(t: Long): Long =
      byStart.filter(s => s.startNs <= t && t <= s.endNs)
        .sortBy(s => (s.startNs, -s.endNs)).lastOption.map(_.id).getOrElse(0L)
    val resolved = own ++ ext.map(s => s.copy(parent = innermost(s.startNs)))
    val lines = resolved.sortBy(_.startNs).map { s =>
      Main.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  /** Spark's public listeners, each turned into spans. */
  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
        external("job", t0, e.time, Map("job" -> e.jobId))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val sr = m.shuffleReadMetrics
        external("stage", i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), Map(
            "stage" -> i.stageId, "tasks" -> i.numTasks,
            "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
            "gc_ms" -> m.jvmGCTime,
            "shuffle_read_bytes" -> (sr.remoteBytesRead + sr.localBytesRead),
            "fetch_wait_ms" -> sr.fetchWaitTime,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "input_bytes" -> m.inputMetrics.bytesRead,
            "input_records" -> m.inputMetrics.recordsRead,
            "output_bytes" -> m.outputMetrics.bytesWritten,
            "output_records" -> m.outputMetrics.recordsWritten,
            "spill_disk_bytes" -> m.diskBytesSpilled,
            "spill_memory_bytes" -> m.memoryBytesSpilled))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        if (phases.nonEmpty) {
          val ms = phases.map { case (k, p) => s"${k}_ms" -> (p.endTimeMs - p.startTimeMs) }
          external("catalyst", phases.values.map(_.startTimeMs).min,
            phases.values.map(_.endTimeMs).max, ms ++ Map("action" -> funcName))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }
}

/** Streaming progress as the latency clock sees it: when each epoch's
  * progress reached a listener, and the per-partition end offsets it
  * committed. Registered on every run, traced or not, because the
  * live-phase latency is read from it. */
final class Progress(trace: Trace) extends StreamingQueryListener {
  import Progress.Epoch
  val epochs = new ConcurrentLinkedQueue[Epoch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.currentTimeMillis()
    val p = e.progress
    val src = p.sources.headOption
    val end = src.map(s => Progress.offsets(s.endOffset)).getOrElse(Map.empty)
    epochs.add(Epoch(now, p.runId, p.batchId, end))
    if (trace.enabled) {
      val started = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => s"${k}_ms" -> v.longValue }.toMap
      val lag = src.map { s =>
        val latest = Progress.offsets(s.latestOffset)
        latest.map { case (k, v) => math.max(v - end.getOrElse(k, 0L), 0L) }.sum
      }.getOrElse(0L)
      val st = p.stateOperators.headOption
      trace.external("epoch", started, started + d.getOrElse("triggerExecution_ms", 0L),
        d ++ Map("input_rows" -> p.numInputRows, "lag_records" -> lag,
          "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
          "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
          "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L)))
    }
  }
}

object Progress {
  final case class Epoch(receivedMs: Long, runId: java.util.UUID, batchId: Long,
                         end: Map[Int, Long])

  private val Pair = "\"(\\d+)\"\\s*:\\s*(\\d+)".r

  /** graft-log offsets JSON, e.g. {"0":12,"3":40}. */
  def offsets(json: String): Map[Int, Long] =
    if (json == null) Map.empty
    else Pair.findAllMatchIn(json).map(m => m.group(1).toInt -> m.group(2).toLong).toMap
}
