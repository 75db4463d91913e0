package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Spans of one op share `op`; `parent` is the id of
  * the span that caused this one (-1 for an op's root span). */
final case class Span(id: Int, parent: Int, op: String, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store. Spans are only ever recorded from the
  * benchmark's own code around its calls into the engine, and from Spark's
  * public listeners; the whole trace is written once at the end. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def record(parent: Int, op: String, name: String, startNs: Long, endNs: Long): Int = synchronized {
    nextId += 1
    if (enabled) spans += Span(nextId, parent, op, name, startNs, endNs)
    nextId
  }

  /** Time `body` as span `name` of `op`; returns the result and span id. */
  def span[T](parent: Int, op: String, name: String)(body: Int => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled) synchronized { spans += Span(id, parent, op, name, t0, System.nanoTime()) }
  }

  /** Per span name: total duration and self time (duration minus the part
    * of it covered by child spans). */
  def selfTimes: Seq[(String, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
      total / 1e6
    }
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(_.ms).sum, ss.map(s => s.ms - covered(s)).sum)
    }.sortBy(-_._3)
  }
}

/** Spark-level counters for every job of an op, gathered from the public
  * `SparkListener` events. `Runner` sets the job group `gb/<op>/<phase>`
  * around each op, so only the ops' own jobs count; streaming jobs carry
  * their query's run id (a UUID) as group and are admitted while
  * `streamActive`, as one stream runs at a time. */
final class JobCollector extends SparkListener {
  @volatile var streamActive = false
  private val uuid = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$".r
  private val stageOwned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val buildGroups = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def owns(group: String): Boolean =
    group != null && (group.startsWith(Runner.GroupPrefix) || (streamActive && uuid.matches(group)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (owns(g)) synchronized {
      c("jobs") += 1
      c("stages") += e.stageIds.size
      e.stageIds.foreach(stageOwned.add)
      if (g.endsWith("/build")) buildGroups(g) += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageOwned.contains(e.stageId) && e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      c("tasks") += 1
      c("task_run_ms") += m.executorRunTime
      c("task_cpu_ms") += m.executorCpuTime / 1e6
      c("task_gc_ms") += m.jvmGCTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("peak_exec_mem_bytes") = math.max(c("peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
    }

  def snapshot: Map[String, Double] = synchronized {
    c.toMap.withDefaultValue(0.0) + ("build_jobs" -> buildGroups.values.sum.toDouble)
  }
}

/** Micro-batch progress as spans: one root span per batch (triggerExecution)
  * with its `durationMs` phases as children. */
final class ProgressSpans(tracer: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val op = s"stream-${p.runId}#${p.batchId}"
    val d = p.durationMs
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
    val trig = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val root = tracer.record(-1, op, "streaming.trigger", start, start + trig * 1000000L)
    var at = start
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
      Option(d.get(k)).map(_.longValue).foreach { ms =>
        tracer.record(root, op, s"streaming.$k", at, at + ms * 1000000L)
        at += ms * 1000000L
      }
    }
  }
}

/** Facts read from an executed physical plan (AQE-aware). */
object PlanFacts extends AdaptiveSparkPlanHelper {
  final case class Facts(exchanges: Int, memScans: Int, fileScans: Int, filesRead: Long)

  def of(plan: SparkPlan): Facts = {
    val ex = collect(plan) { case e: ShuffleExchangeLike => e }.size
    val mem = collect(plan) { case s: InMemoryTableScanExec => s }
    val files = collect(plan) { case s: FileSourceScanLike => s }
    // scans inside cached relations are not re-read; count only live scans
    val read = files.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    Facts(ex, mem.size, files.size, read)
  }
}

/** Tracker phases of a query execution in ms. */
object Phases {
  def of(qe: org.apache.spark.sql.execution.QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble }
}
