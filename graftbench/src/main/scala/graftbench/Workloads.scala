package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbench.SparkHooks
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{SparkEntry, Tables}
import graft.streaming.{StreamIngest, StreamingQueries}

/** Scale of one workload; `key` names it in the expected-fingerprint file. */
final case class Scale(sf: Double, factor: Int, files: Int) {
  def key: String = s"sf$sf-x$factor-f$files"
}

/** What one pass of a workload produced. `batchMs` holds the trigger times
  * of the micro-batches that carried input (streams only; the no-data
  * batches that only advance a watermark are in the pass time but would
  * make a median jump between two modes); `extra` holds per-pass layer
  * counters. */
final case class PassRec(wallMs: Double, ops: Seq[OpRec],
                         batchMs: Seq[Double] = Nil, extra: Map[String, Double] = Map.empty)

/** A workload: inputs, a set-up repeated in fresh sessions, and passes. */
trait Workload {
  def name: String
  /** Build (or reuse) the inputs; returns the directory the engine reads.
    * The session is only started when something must be built. */
  def inputs(spark: => SparkSession, data: String, seed: Long): String
  /** Inputs derived afresh in every timed JVM from the shared ones `inputs`
    * returned; returns the directory the engine reads. */
  def runInputs(spark: => SparkSession, shared: String, seed: Long): String = shared
  /** Nominal seconds of the cold pass and of a warm pass on four cores.
    * With `--seconds` they fix the number of warm passes, so every run of
    * a workload does the same work whatever its speed: the JVM is still
    * warming up over the first passes, and a time-bounded loop would let
    * the pass count, and with it the median, drift from run to run. */
  def nominal: (Double, Double)
  /** Set-ups per run, each in a fresh session; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Work done before the first timed op; per-layer timings by name. */
  def setup(spark: SparkSession, dir: String): Map[String, Double]
  /** One pass; `pass` 0 is the first in the JVM. */
  def pass(r: Runner, dir: String, pass: Int, seed: Long): PassRec
  /** The ops one pass runs, by name; their times add up to the pass (a
    * stream head's time includes its sink read-back). */
  def opNames: Seq[String]

  /** Pins attempted by this workload's set-ups, and the failures among
    * them; each pin has its own `try`, so one failure skips nothing else. */
  var pinsAttempted = 0
  val pinFailures = scala.collection.mutable.ArrayBuffer.empty[String]
  protected def pin(what: String)(f: => Unit): Unit =
    try { pinsAttempted += 1; f }
    catch { case e: Throwable => pinFailures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}" }
}

object Workloads {
  /** The read-surface sample a run times: ten queries spanning the five
    * families (five q_ts, two q_pql, one each of q_window, q_ingest and
    * q_sketch), every one oracle-backed. The whole surface does not fit a
    * run's length: its cold pass alone takes minutes on four cores. */
  val tsSample: Seq[String] = Seq(
    "q_ts_tumbling", "q_ts_rate", "q_ts_histogram", "q_ts_gapfill", "q_ts_decay_topk",
    "q_pql_rate_sum", "q_pql_quantile_agg", "q_window_lag", "q_ingest_day_prune",
    "q_sketch_hist_agg")

  /** Tables the sample reads, pinned as a resident store keeps them. */
  val tsTables: Seq[(SparkSession, String) => DataFrame] = Seq(Tables.events _, Tables.orders _)

  /** `graft.tools.ScaleBench.llmHead` with one dedup variant
    * (q_dedup_exact) instead of four: the other three alone would take
    * most of a run's length. */
  val llmQueries: Seq[String] = graft.tools.ScaleBench.llmHead
    .filterNot(Set("q_dedup_cluster", "q_dedup_lsh_verified", "q_dedup_incremental"))

  val streamHeads: Seq[String] = Seq("ingest_by_day", "session", "dedup", "tumbling")

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(); ()
  }

  private def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }

  final class TsInteractive(scale: Scale) extends Workload {
    val name = "ts_interactive"
    val opNames: Seq[String] = tsSample
    val nominal = (8.0, 5.5)
    def inputs(spark: => SparkSession, data: String, seed: Long): String =
      Gen.base(spark, s"$data/base-sf${scale.sf}", scale.sf)
    /** Pins the sample's tables, then materializes the `Ingest` layouts of the
      * sampled `q_ingest_*` queries: their builders write the layout once
      * (memoized per layout root), so calling a builder without running
      * its query is exactly the layout pin. */
    def setup(spark: SparkSession, dir: String): Map[String, Double] = {
      val pinMs = timed(tsTables.foreach(t => pin("table")(t(spark, dir).cache().count())))
      val layoutMs = timed(opNames.filter(_.startsWith("q_ingest_")).foreach { q =>
        pin(q)(SparkEntry.queries(q)(spark, dir))
      })
      Map("Tables.pin_ms" -> pinMs, "sources.layout_build_ms" -> layoutMs)
    }
    def pass(r: Runner, dir: String, pass: Int, seed: Long): PassRec = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(opNames)
      val qs = SparkEntry.queries
      val t0 = System.nanoTime()
      val ops = order.map(q => r.time(q, pass, () => qs(q)(r.spark, dir)))
      PassRec((System.nanoTime() - t0) / 1e6, ops)
    }
  }

  final class LlmPipeline(scale: Scale) extends Workload {
    val name = "llm_pipeline"
    val opNames: Seq[String] = llmQueries
    val nominal = (15.0, 8.0)
    def inputs(spark: => SparkSession, data: String, seed: Long): String = {
      val baseDir = s"$data/base-sf${scale.sf}"
      Gen.base(spark, baseDir, scale.sf)
      val dir = s"$data/corpus-sf${scale.sf}-x${scale.factor}-seed$seed"
      Gen.corpus(spark, baseDir, dir, scale.factor, seed)
      dir
    }
    def setup(spark: SparkSession, dir: String): Map[String, Double] = {
      graft.functions.GraftFunctions.register(spark)
      Map("sources.resolve_ms" -> timed {
        Tables.documents(spark, dir).schema; Tables.embeddings(spark, dir).schema; ()
      })
    }
    /** Each pass: a fresh session over a cleared shared cache, nothing
      * pinned, so it pays its own reads, sketch and index builds. */
    def pass(r: Runner, dir: String, pass: Int, seed: Long): PassRec = {
      val t0 = System.nanoTime()
      r.spark.catalog.clearCache()
      val s = r.spark.newSession()
      val rs = new Runner(s, r.tracer)
      val qs = SparkEntry.queries
      val ops = opNames.map(q => rs.time(q, pass, () => qs(q)(s, dir)))
      PassRec((System.nanoTime() - t0) / 1e6, ops)
    }
  }

  final class StreamIngestW(scale: Scale, runDir: String, collector: Option[JobCollector])
      extends Workload {
    val name = "stream_ingest"
    val opNames: Seq[String] = streamHeads
    val nominal = (12.0, 7.5)
    /** A set-up here is a session start and a schema read, a fifth of a
      * second: more of them cost little and steady the median. */
    override val setupReps = 9
    def inputs(spark: => SparkSession, data: String, seed: Long): String = {
      val baseDir = s"$data/base-sf${scale.sf}"
      Gen.base(spark, baseDir, scale.sf)
      baseDir
    }
    /** The replay is derived in the timed JVM on every run: it takes a few
      * seconds there against a JVM and session start of its own, and every
      * run then starts from the same JVM state whether or not it ran
      * before with this seed. */
    override def runInputs(spark: => SparkSession, baseDir: String, seed: Long): String =
      Gen.replay(spark, baseDir, s"$runDir/replay", scale.factor, seed, scale.files)
    def setup(spark: SparkSession, dir: String): Map[String, Double] =
      Map("sources.resolve_ms" -> timed { spark.read.parquet(dir).schema; () })

    private var serial = 0
    private def fresh(kind: String): String = {
      serial += 1
      val d = new File(s"$runDir/stream/$kind-$serial"); d.mkdirs(); d.getPath
    }

    def pass(r: Runner, dir: String, pass: Int, seed: Long): PassRec = {
      val s = r.spark
      val t0 = System.nanoTime()
      val batches = mutable.ArrayBuffer.empty[Batch]
      val reads = mutable.ArrayBuffer.empty[OpRec]
      var sinkBytes = 0.0; var sinkFiles = 0.0
      collector.foreach(_.streamActive = true)
      val ops = streamHeads.map { head =>
        val h0 = System.nanoTime()
        try {
          var b1 = 0L
          val fp = head match {
            case "ingest_by_day" =>
              val out = fresh("sink")
              val q = StreamIngest.ingestByDay(s, dir, out, fresh("ckpt"))
              b1 = System.nanoTime()
              q.awaitTermination()
              batches ++= progress(q)
              val files = listFiles(new File(out)).filterNot(_.getPath.contains("_spark_metadata"))
              sinkBytes += files.map(_.length).sum; sinkFiles += files.size
              // the sink read back through its metadata log, as a reader sees it
              collector.foreach(_.streamActive = false)
              val read = r.time("ingest_by_day.read", pass, () => s.read.parquet(out))
              collector.foreach(_.streamActive = true)
              reads += read
              read.err.foreach(e => throw new IllegalStateException(s"sink read-back: $e"))
              read.fp.get
            case _ =>
              val df = head match {
                case "session" => SparkHooks.oneFilePerTrigger(StreamingQueries.sessionStream(s, dir))
                case "dedup" => SparkHooks.oneFilePerTrigger(StreamingQueries.dedupStream(s, dir))
                case "tumbling" => StreamingQueries.tumblingStream(s, dir, Some(1))
              }
              var acc = Fingerprint.Empty
              val q = df.writeStream
                .option("checkpointLocation", fresh("ckpt"))
                .foreachBatch { (b: DataFrame, _: Long) => acc = Fingerprint.combine(acc, Fingerprint.of(b)); () }
                .outputMode("append").trigger(Trigger.AvailableNow()).start()
              b1 = System.nanoTime()
              q.awaitTermination()
              batches ++= progress(q)
              acc
          }
          OpRec(head, pass, Some((System.nanoTime() - h0) / 1e6), Some(fp), None, buildMs = (b1 - h0) / 1e6)
        } catch {
          case e: Throwable =>
            OpRec(head, pass, None, None, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
        }
      }
      collector.foreach(_.streamActive = false)
      val wall = (System.nanoTime() - t0) / 1e6
      PassRec(wall, ops ++ reads, batches.filter(_.rows > 0).map(_.triggerMs).toSeq,
        summarize(batches.toSeq) ++ Map("sink_bytes" -> sinkBytes, "sink_files" -> sinkFiles))
    }
  }

  /** One micro-batch from a query's progress events. */
  final case class Batch(triggerMs: Double, rows: Long, phases: Map[String, Double])

  def progress(q: StreamingQuery): Seq[Batch] = q.recentProgress.toSeq.map { p =>
    val d = p.durationMs
    val ops = p.stateOperators.toSeq
    Batch(Option(d.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0), p.numInputRows,
      Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .flatMap(k => Option(d.get(k)).map(v => k -> v.doubleValue)).toMap ++ Map(
        "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum,
        "late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum))
  }

  /** Phase sums, input rows, batch count and state maxima of some batches. */
  def summarize(bs: Seq[Batch]): Map[String, Double] =
    bs.flatMap(_.phases).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum } ++ Map(
      "triggerExecution" -> bs.map(_.triggerMs).sum,
      "input_rows" -> bs.map(_.rows).sum.toDouble, "batches" -> bs.size.toDouble,
      "state_rows_max" -> bs.map(_.phases("state_rows")).foldLeft(0.0)(math.max),
      "state_mem_max" -> bs.map(_.phases("state_mem_bytes")).foldLeft(0.0)(math.max))

  /** A drained query as a pass record (the streaming probe). */
  def progressPass(q: StreamingQuery): PassRec = {
    q.exception.foreach(e => throw e)
    val bs = progress(q)
    PassRec(bs.map(_.triggerMs).sum, Nil, bs.map(_.triggerMs), summarize(bs))
  }

  def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).toSeq.flatMap(listFiles)
    else if (f.isFile) Seq(f) else Nil

  def clean(dir: String): Unit = rmTree(new File(dir))
}
