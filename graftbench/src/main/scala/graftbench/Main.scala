package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.SparkHooks

/** One benchmark run: one workload, one seed, one JVM. See README.md. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: String,
                        data: String, out: String, expected: String, rev: String, dirty: String,
                        record: Boolean, smoke: Boolean, genOnly: Boolean, genS: Option[Double])

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = a.filter(_.startsWith("--")).map(_.drop(2)).toSet
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv.getOrElse("trace", "0") == "1",
      kv("root"), kv("data"), kv("out"), kv("expected"), kv.getOrElse("rev", "unknown"), kv.getOrElse("dirty", "unknown"),
      flags("record"), flags("smoke"), flags("gen-only"), kv.get("gen-s").map(_.toDouble))
  }

  /** Default and smoke scales per workload. */
  def scales(smoke: Boolean): Map[String, Scale] =
    if (smoke) Map("ts_interactive" -> Scale(0.001, 1, 0), "llm_pipeline" -> Scale(0.001, 2, 0),
      "stream_ingest" -> Scale(0.001, 1, 2))
    else Map("ts_interactive" -> Scale(0.01, 1, 0), "llm_pipeline" -> Scale(0.01, 4, 0),
      "stream_ingest" -> Scale(0.01, 1, 2))

  def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val runDir = s"${a.root}/runs/${a.workload}-${a.seed}-${ProcessHandle.current.pid}"
    new File(runDir).mkdirs()
    val tmp = System.getProperty("java.io.tmpdir")
    try {
      val tracer = new Tracer(a.trace)
      val collector = if (a.trace) Some(new JobCollector) else None
      val scale = scales(a.smoke)(a.workload)
      val w: Workload = a.workload match {
        case "ts_interactive" => new Workloads.TsInteractive(scale)
        case "llm_pipeline" => new Workloads.LlmPipeline(scale)
        case "stream_ingest" => new Workloads.StreamIngestW(scale, runDir, collector)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val (dir, genS) = inputs(w, a, cores, runDir)
      if (!a.genOnly) run(a, cores, runDir, scale, w, tracer, collector, dir, a.genS.getOrElse(0.0) + genS)
    } finally {
      // a failed run must not leave a session over a deleted local dir
      SparkSession.getDefaultSession.foreach(_.stop())
      System.setProperty("java.io.tmpdir", tmp)
      Workloads.clean(runDir)
    }
  }

  private def setTmp(runDir: String, tag: String): Unit = {
    val d = new File(s"$runDir/tmp-$tag"); d.mkdirs(); System.setProperty("java.io.tmpdir", d.getPath)
  }

  /** Builds or reuses the shared inputs, then (in the timed JVM) derives
    * the per-run ones; a session starts only to build. `run.py` builds the
    * shared inputs in a JVM of its own (`--gen-only`) before the timed one,
    * so the timed JVM starts equally cold whether or not they existed. */
  private def inputs(w: Workload, a: Args, cores: Int, runDir: String): (String, Double) = {
    setTmp(runDir, "gen")
    var genSession: Option[SparkSession] = None
    def spark = genSession.getOrElse { genSession = Some(session(cores, runDir)); genSession.get }
    val g0 = System.nanoTime()
    val shared = w.inputs(spark, a.data, a.seed)
    val dir = if (a.genOnly) shared else w.runInputs(spark, shared, a.seed)
    val genS = (System.nanoTime() - g0) / 1e9
    genSession.foreach(_.stop())
    (dir, genS)
  }

  private def run(a: Args, cores: Int, runDir: String, scale: Scale, w: Workload, tracer: Tracer,
                  collector: Option[JobCollector], dir: String, genS: Double): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val before = Host.sample(cores)

    // set-up, repeated in fresh sessions; each repetition writes its
    // layouts under its own temp root, the last one stays for the passes
    var spark: SparkSession = null
    val setups = (1 to w.setupReps).map { rep =>
      setTmp(runDir, s"setup$rep")
      val t0 = System.nanoTime()
      spark = session(cores, runDir)
      val parts = w.setup(spark, dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (rep < w.setupReps) spark.stop()
      (s, parts)
    }
    val pinFailures = w.pinFailures.toList

    collector.foreach(spark.sparkContext.addSparkListener)
    if (a.trace) spark.streams.addListener(new ProgressSpans(tracer))
    val runner = new Runner(spark, tracer)
    val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val driverGc0 = Host.gcMs()
    val ticks0 = Host.cpuTicks()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val layer0 = mutable.Map.empty[String, Double]
    val (coldS, passS) = w.nominal
    val total = if (a.record) 2 else 1 + math.max(1, ((a.seconds - coldS) / passS).toInt)
    while (passes.size < total) {
      if (passes.size == 1) collector.foreach { c => SparkHooks.drainListenerBus(spark.sparkContext); layer0 ++= c.snapshot }
      passes += w.pass(runner, dir, passes.size, a.seed)
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    collector.foreach(_ => SparkHooks.drainListenerBus(spark.sparkContext))
    val ticks1 = Host.cpuTicks()
    val driverGcMs = Host.gcMs() - driverGc0
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

    // correctness: each op's fingerprint agrees across passes and with the
    // fingerprint recorded for this workload and scale
    val expKey = s"${a.workload}@${scale.key}"
    val expectedAll = if (new File(a.expected).exists)
      Json.readNested(Files.readString(Paths.get(a.expected))) else Map.empty[String, Map[String, String]]
    val expected = expectedAll.getOrElse(expKey, Map.empty)
    val allOps = passes.flatMap(_.ops)
    val firstFp = allOps.filter(_.ok).groupBy(_.op).map { case (k, v) => k -> v.head.fp.get }
    val mismatches = allOps.filter(_.ok).flatMap { o =>
      val fp = o.fp.get
      if (fp != firstFp(o.op)) Some(s"${o.op}@${o.pass}: $fp differs from pass-0 ${firstFp(o.op)}")
      else if (a.record || a.smoke) None
      else expected.get(o.op) match {
        case Some(e) if e == fp => None
        case Some(e) => Some(s"${o.op}@${o.pass}: $fp, expected $e")
        case None => Some(s"${o.op}@${o.pass}: no expected fingerprint under $expKey")
      }
    }
    val errors = allOps.filterNot(_.ok).map(o => s"${o.op}@${o.pass}: ${o.err.get}")
    val attempted = allOps.size + w.pinsAttempted
    val failed = errors.size + mismatches.size + pinFailures.size
    if (a.record && failed == 0) Expected.write(a.expected, expectedAll, expKey, firstFp)

    // end-to-end metrics over warm passes (pass 0 is the cold pass)
    val warm = passes.drop(1).toSeq
    // op samples keyed by what recurs in every pass: the query, or the
    // position of a data micro-batch in the pass
    val opSamples: PassRec => Seq[(String, Double)] = p =>
      if (p.batchMs.nonEmpty) p.batchMs.zipWithIndex.map { case (ms, i) => s"batch$i" -> ms }
      else p.ops.flatMap(o => o.ms.map(o.op -> _))
    val warmSamples = warm.flatMap(opSamples).map(_._2)
    val coldSamples = opSamples(passes.head).map(_._2)
    val warmWallS = warm.map(_.wallMs).sum / 1e3
    // each op at its median over the warm passes, so an op slowed by a
    // busy moment on the host counts as one slow sample, not as a slow op
    def medians(samples: Seq[(String, Double)]): Seq[Double] =
      samples.groupBy(_._1).values.map(v => Stats.median(v.map(_._2))).toSeq
    val opMedians = medians(warm.flatMap(opSamples))
    val topMedians = medians(warm.flatMap(_.ops).filter(o => o.ok && w.opNames.contains(o.op))
      .map(o => o.op -> o.ms.get))
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setups.map(_._1)), "s"),
      "cold_pass_s" -> (passes.head.wallMs / 1e3, "s"),
      "pass_s" -> (topMedians.sum / 1e3, "s"),
      "op_p50_ms" -> (Stats.median(opMedians), "ms"),
      "ops_per_s" -> (1e3 / Stats.geoMean(opMedians), "1/s"))
    val streamRows = warm.map(_.extra.getOrElse("input_rows", 0.0)).sum
    val info = mutable.LinkedHashMap[String, Any](
      "gen_s" -> genS, "first_op_s" -> firstOpS, "measured_s" -> measuredS,
      "passes" -> passes.size, "warm_pass_wall_s" -> warm.map(_.wallMs / 1e3),
      "warm_op_samples" -> warmSamples.size, "cold_op_samples" -> coldSamples.size,
      "cold_op_p50_ms" -> Stats.median(coldSamples),
      "cold_op_tail" -> Stats.highestSupported(coldSamples).map { case (p, v) => Map("p" -> p, "ms" -> v) },
      "warm_op_tail" -> Stats.highestSupported(warmSamples).map { case (p, v) => Map("p" -> p, "ms" -> v) },
      "failed_frac" -> failed.toDouble / math.max(1, attempted), "cached_mb" -> cachedMb,
      "stream_rows_per_s" -> (if (streamRows > 0) Some(streamRows / warmWallS) else None),
      "setup_reps_s" -> setups.map(_._1), "setup_parts_ms" -> setups.map(_._2))

    val layers = if (a.trace) Some(Layers.compute(spark, a, runDir, dir, scale, passes.toSeq, setups.map(_._2),
      collector.get.snapshot, layer0.toMap, driverGcMs, cores)
      .copy(selfMs = tracer.selfTimes.map { case (n, t, s) => Map("span" -> n, "total_ms" -> t, "self_ms" -> s) },
        overhead = Layers.overhead(a, e2e.map { case (k, (v, _)) => k -> v }.toMap))) else None

    val after = Host.sample(cores)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "scale" -> scale.key, "rev" -> a.rev, "dirty" -> a.dirty, "nproc" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "host_before" -> before, "host_after" -> after,
      "steal_pct" -> Host.stealPct(ticks0, ticks1), "correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> (errors ++ pinFailures.map("pin " + _)), "mismatches" -> mismatches,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> info,
      "per_layer" -> layers.map(_.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }),
      "self_ms" -> layers.map(_.selfMs),
      "ops" -> allOps.map(o => Map("op" -> o.op, "pass" -> o.pass, "ms" -> o.ms, "fp" -> o.fp, "err" -> o.err)))
    val recDir = new File(s"${a.root}/records"); recDir.mkdirs()
    val stamp = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis()}"
    Files.writeString(Paths.get(recDir.getPath, s"$stamp.json"), Json(record))
    if (a.trace) Files.writeString(Paths.get(recDir.getPath, s"$stamp-spans.json"),
      Json(tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))

    // human summary on stdout, then the one-line result in the out file
    println(s"[graftbench] ${a.workload} seed=${a.seed} scale=${scale.key} rev=${a.rev} dirty=${a.dirty} " +
      f"nproc=$cores heap=${Runtime.getRuntime.maxMemory / 1048576}MB gen=$genS%.2fs passes=${passes.size}")
    e2e.foreach { case (k, (v, u)) => println(f"[graftbench]   $k%-22s $v%12.4f $u") }
    info.foreach { case (k, v) => println(f"[graftbench]   $k%-22s ${Json(v)}") }
    (errors ++ pinFailures ++ mismatches).foreach(e => println(s"[graftbench] FAILED $e"))
    layers.foreach(_.print(stamp))
    val metrics = layers.map(_.metrics).getOrElse(e2e)
    val line = Json(mutable.LinkedHashMap("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }))
    Files.writeString(Paths.get(a.out), line + "\n")
    spark.stop()
  }
}

/** Host facts that let a contended run show itself: CPU steal over the
  * window, load average, and a fixed CPU calibration (single thread and
  * all cores) before and after. */
object Host {
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Some((l.sum, if (l.length > 7) l(7) else 0L))
    } catch { case _: Throwable => None }

  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] = (a, b) match {
    case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => Some(100.0 * (s1 - s0) / (t1 - t0))
    case _ => None
  }

  def loadAvg(): Option[Double] =
    try Some(Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble)
    catch { case _: Throwable => None }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def spin(seed: Long): Long = {
    var x = 0x9E3779B97F4A7C15L ^ seed; var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** Fixed xorshift loop timed on one thread and on `cores` threads. */
  def calibrate(cores: Int): (Double, Double) = {
    val t0 = System.nanoTime(); val x = spin(1)
    val one = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val ts = (1 to cores).map(k => new Thread(() => { if (spin(k) == 42) println(""); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    if (x == 42) println("")
    (one, (System.nanoTime() - t1) / 1e6)
  }

  def sample(cores: Int): Map[String, Any] = {
    val (c1, cn) = calibrate(cores)
    Map("cal1_ms" -> c1, "calN_ms" -> cn, "loadavg" -> loadAvg())
  }
}

/** The expected-fingerprint file: workload@scale → op → fingerprint. */
object Expected {
  def write(path: String, all: Map[String, Map[String, String]], key: String, fps: Map[String, String]): Unit = {
    val merged = all + (key -> (all.getOrElse(key, Map.empty) ++ fps))
    val body = merged.toSeq.sortBy(_._1).map { case (k, m) =>
      "  " + Json.str(k) + ": {\n" + m.toSeq.sortBy(_._1).map { case (op, fp) =>
        "    " + Json.str(op) + ": " + Json.str(fp) }.mkString(",\n") + "\n  }"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(path), body)
  }
}
