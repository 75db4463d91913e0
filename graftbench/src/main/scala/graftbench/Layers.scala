package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, Tables}
import graft.streaming.StreamingQueries

/** Per-layer metrics of a traced run, named after the engine's modules
  * plus `spark` for the scheduler and executors. Values are per warm op
  * (a query, or a micro-batch on stream_ingest) unless the name says
  * otherwise. A layer the workload does not exercise is measured by a
  * small fixed probe over the workload's own inputs, listed in `probed`. */
final case class Layers(metrics: mutable.LinkedHashMap[String, (Double, String)],
                        selfMs: Seq[Map[String, Any]], probed: Seq[String], overhead: Map[String, Double]) {
  def print(stamp: String): Unit = {
    println(s"[graftbench] per-layer metrics (traced run; probes for: ${if (probed.isEmpty) "none" else probed.mkString(", ")})")
    metrics.foreach { case (k, (v, u)) => println(f"[graftbench]   $k%-36s $v%16.4f $u") }
    println("[graftbench] self time by span (ms): name, total, self")
    selfMs.foreach(m => println(f"[graftbench]   ${m("span")}%-28s ${m("total_ms").asInstanceOf[Double]}%12.1f ${m("self_ms").asInstanceOf[Double]}%12.1f"))
    if (overhead.isEmpty) println("[graftbench] tracing overhead: no untraced record of this workload in this checkout yet")
    else overhead.foreach { case (k, v) => println(f"[graftbench] tracing overhead $k%-14s $v%+.4f (traced − untraced median)") }
    println(s"[graftbench] spans: records/$stamp-spans.json")
  }
}

object Layers {
  val functionProbes: Seq[String] = Seq("graft_minhash", "graft_doc_grams", "graft_winnow", "graft_cosine", "graft_tdigest")

  private def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }

  /** Rows per second of one kernel: median of three runs of a one-stage
    * probe whose aggregate reads the kernel's output. */
  def kernelRate(spark: SparkSession, dir: String, fn: String): Double = {
    graft.functions.GraftFunctions.register(spark)
    val (input, out) = fn match {
      case "graft_minhash" => val d = Tables.documents(spark, dir); (d, d.select(expr("graft_minhash(text, 3, 64)").as("x")))
      case "graft_doc_grams" => val d = Tables.documents(spark, dir); (d, d.select(expr("graft_doc_grams(text, 8, 'sd')")))
      case "graft_winnow" => val d = Tables.documents(spark, dir); (d, d.select(expr("graft_winnow(text, 3, 4, 'wn')")))
      case "graft_cosine" => val e = Tables.embeddings(spark, dir)
        (e, e.select(expr("graft_cosine(embedding, reverse(embedding))").as("x")))
      case "graft_tdigest" => val e = Tables.events(spark, dir); (e, e.agg(expr("graft_tdigest(value, 100)").as("x")))
    }
    val rows = input.count().toDouble
    val f = Fingerprint.frame(out)
    rows / (Stats.median((1 to 3).map(_ => ms(f.collect()))) / 1e3)
  }

  /** Traced minus untraced end-to-end values, against the untraced
    * records of the same workload and run length in this checkout. */
  def overhead(a: Main.Args, traced: Map[String, Double]): Map[String, Double] = {
    val recs = Option(new File(s"${a.root}/records").listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(s"${a.workload}-") && f.getName.contains("-trace0-"))
      .sortBy(_.lastModified)
    // the median of up to ten newest untraced runs of the same length: one
    // run alone can land in a busy minute of a shared host
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val nodes = recs.reverseIterator.map(f => mapper.readTree(Files.readString(f.toPath)))
      .filter(_.path("seconds").asInt == a.seconds).take(10).toSeq
    traced.flatMap { case (k, v) =>
      val base = nodes.flatMap(n => Option(n.path("end_to_end").get(k)).map(_.get("value").asDouble))
      if (base.isEmpty) None else Some(k -> (v - Stats.median(base)))
    }
  }

  def compute(spark: SparkSession, a: Main.Args, runDir: String, dir: String, scale: Scale,
              passes: Seq[PassRec], setups: Seq[Map[String, Double]], spark1: Map[String, Double],
              spark0: Map[String, Double], driverGcMs: Long, cores: Int): Layers = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val probed = mutable.ArrayBuffer.empty[String]
    val warm = passes.drop(1)
    val isStream = a.workload == "stream_ingest"
    val warmQ = warm.flatMap(_.ops).filter(_.ok)
    val batches = warm.map(_.extra.getOrElse("batches", 0.0)).sum
    val perOp = math.max(1, if (isStream) batches else warmQ.size).toDouble
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val baseDir = s"${a.data}/base-sf${scale.sf}"
    val probeDir = if (isStream) baseDir else dir

    m("operators.build_ms") = (mean(warmQ.map(_.buildMs)), "ms")
    val sp = (spark1.keySet ++ spark0.keySet).map(k => k -> (spark1(k) - spark0.getOrElse(k, 0.0))).toMap.withDefaultValue(0.0)
    m("operators.build_jobs") = (sp("build_jobs") / perOp, "count")

    val pql = warmQ.filter(_.op.startsWith("q_pql_"))
    m("promql.build_ms") = (if (pql.nonEmpty) mean(pql.map(_.buildMs)) else {
      probed += "promql"
      val qs = Workloads.tsSample.filter(_.startsWith("q_pql_"))
      mean((1 to 3).flatMap(_ => qs.map(q => ms(SparkEntry.queries(q)(spark, baseDir)))))
    }, "ms")

    val withPhases = warmQ.filter(_.phases.nonEmpty)
    Seq("analysis", "optimization", "planning").foreach { ph =>
      m(s"plans.${ph}_ms") = (mean(withPhases.map(_.phases.getOrElse(ph, 0.0))), "ms")
    }
    val facts = warmQ.flatMap(_.facts)
    m("plans.exchanges") = (mean(facts.map(_.exchanges.toDouble)), "count")

    m("Tables.pin_ms") = (if (a.workload == "ts_interactive") Stats.median(setups.map(_("Tables.pin_ms"))) else {
      probed += "Tables"
      val ts = (if (isStream) Seq(Tables.events(spark, baseDir))
        else Seq(Tables.documents(spark, dir), Tables.embeddings(spark, dir)))
      val t = ms(ts.foreach(_.cache().count())); ts.foreach(_.unpersist(true)); t
    }, "ms")
    val scans = facts.map(f => f.memScans + f.fileScans).sum
    m("Tables.cache_hit_ratio") = (if (scans == 0) 0.0 else facts.map(_.memScans).sum.toDouble / scans, "ratio")

    m("sources.layout_build_ms") = (a.workload match {
      case "ts_interactive" => Stats.median(setups.map(_("sources.layout_build_ms")))
      case "stream_ingest" => mean(warm.flatMap(_.ops).filter(o => o.op == "ingest_by_day" && o.ok).flatMap(_.ms))
      case _ =>
        probed += "sources"
        ms(graft.sources.Ingest.writeDocsByShard(Tables.documents(spark, dir), s"$runDir/probe-docs-by-shard"))
    }, "ms")
    m("sources.files_read") = (mean(facts.map(_.filesRead.toDouble)), "count")
    m("sources.sink_bytes") = (mean(warm.map(_.extra.getOrElse("sink_bytes", 0.0))), "bytes")
    m("sources.sink_files") = (mean(warm.map(_.extra.getOrElse("sink_files", 0.0))), "count")

    functionProbes.foreach(fn => m(s"functions.${fn}_rows_per_s") =
      (kernelRate(spark, if (fn == "graft_tdigest") baseDir else probeDir, fn), "rows/s"))

    val execMs = if (isStream) warm.map(_.extra.getOrElse("addBatch", 0.0)).sum
      else warmQ.flatMap(_.ms).sum - warmQ.map(o => o.buildMs + o.planMs).sum
    Seq("jobs", "stages", "tasks").foreach(k => m(s"spark.$k") = (sp(k) / perOp, "count"))
    m("spark.exec_ms") = (execMs / perOp, "ms")
    m("spark.task_run_ms") = (sp("task_run_ms") / perOp, "ms")
    m("spark.task_cpu_ms") = (sp("task_cpu_ms") / perOp, "ms")
    m("spark.busy_frac") = (if (execMs <= 0) 0.0 else sp("task_run_ms") / (execMs * cores), "ratio")
    Seq("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes").foreach(k => m(s"spark.$k") = (sp(k) / perOp, "bytes"))
    m("spark.peak_exec_mem_bytes") = (spark1("peak_exec_mem_bytes"), "bytes")
    m("spark.task_gc_ms") = (sp("task_gc_ms") / perOp, "ms")
    m("spark.driver_gc_ms") = (driverGcMs / math.max(1.0, passes.flatMap(_.ops).size.toDouble), "ms")

    val (sx, sb) = if (isStream) (warm.map(_.extra), batches) else {
      probed += "streaming"
      val p = streamProbe(spark, a, scale, runDir)
      (Seq(p.extra), p.extra("batches"))
    }
    def sumX(k: String): Double = sx.map(_.getOrElse(k, 0.0)).sum
    val nb = math.max(1, sb).toDouble
    m("streaming.trigger_ms") = (sumX("triggerExecution") / nb, "ms")
    m("streaming.add_batch_ms") = (sumX("addBatch") / nb, "ms")
    m("streaming.planning_ms") = (sumX("queryPlanning") / nb, "ms")
    m("streaming.wal_commit_ms") = (sumX("walCommit") / nb, "ms")
    m("streaming.latest_offset_ms") = (sumX("latestOffset") / nb, "ms")
    m("streaming.state_commit_ms") = (sumX("state_commit_ms") / nb, "ms")
    m("streaming.state_rows") = (sx.map(_.getOrElse("state_rows_max", 0.0)).foldLeft(0.0)(math.max), "count")
    m("streaming.state_mem_bytes") = (sx.map(_.getOrElse("state_mem_max", 0.0)).foldLeft(0.0)(math.max), "bytes")
    m("streaming.late_rows_dropped") = (sumX("late_rows_dropped") / math.max(1, sx.size), "count")

    Layers(m, Seq.empty, probed.toSeq, Map.empty)
  }

  /** Tumbling head over a small fixed replay of the base events, drained
    * at one file per trigger: the streaming layer's probe. */
  def streamProbe(spark: SparkSession, a: Main.Args, scale: Scale, runDir: String): PassRec = {
    val baseDir = s"${a.data}/base-sf${scale.sf}"
    val feed = Gen.replay(spark, baseDir, s"${a.data}/replay-sf${scale.sf}-x1-f3-seed0", 1, 0L, 3)
    val q = StreamingQueries.tumblingStream(spark, feed, Some(1)).writeStream
      .option("checkpointLocation", s"$runDir/probe-ckpt")
      .foreachBatch { (b: DataFrame, _: Long) => Fingerprint.of(b); () }
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Workloads.progressPass(q)
  }
}
