package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Everything the engine reads comes from here.
  *
  *  - `base` writes the TPC-H-ish star schema plus `events`, `documents`
  *    and `embeddings` at a scale factor, with the schemas the engine's
  *    loaders expect. Every value is a hash of the row id and a fixed salt,
  *    so the tables do not depend on partitioning or on the workload seed.
  *  - `corpus` derives a ×F corpus from the base documents and embeddings
  *    with the id-remapping recipe of `graft.tools.ScaleBench`: copy k maps
  *    id → id·F+k and suffixes every token with `_k` (k > 0), so copies are
  *    distinct. The seed sets which file each row lands in and the row
  *    order within files; the file count is fixed.
  *  - `replay` derives a ×F event stream (event_id → id·F+k, user_id →
  *    id + k·10⁷) as time-ordered parquet files of raw nanosecond `ts`,
  *    with each event's file placement jittered by ±4 minutes from a
  *    seed-salted hash, so events arrive out of order across files.
  *
  * Each output directory is written once and marked with `_DONE` holding
  * its row counts and file listing; a directory whose marker is missing or
  * whose listing changed is rebuilt.
  */
object Gen {
  val JitterMinutes = 4

  private def h(salt: Long, cols: Column*): Column = xxhash64((lit(salt) +: cols): _*)

  /** Uniform double in [0, 1) from a hash of (salt, cols). */
  private def u(salt: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  /** Integer in [0, n) from a hash of (salt, cols). */
  private def ui(salt: Long, n: Long, cols: Column*): Column = pmod(h(salt, cols: _*), lit(n))

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window",
    "order", "data", "column", "join", "small", "big", "customer", "query", "filter",
    "group", "stream", "vector")

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete(); ()
  }

  /** File names and sizes under `dir`, the marker excluded. */
  private def listing(dir: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(_.getName != "_DONE").map(f =>
      s"${new File(dir).toPath.relativize(f.toPath)}:${f.length}").sorted.mkString("\n")
  }

  /** Build `dir` with `write` unless its marker exists and the listing it
    * records still matches. A fresh build re-reads every dataset and
    * records its row count in the marker. */
  private def once(spark: => SparkSession, dir: String, datasets: Seq[String])(
      write: => Unit): String = {
    val marker = new File(dir, "_DONE")
    val prior = if (marker.exists) Files.readString(marker.toPath) else ""
    if (prior.nonEmpty && prior.endsWith("\n" + listing(dir))) prior.takeWhile(_ != '\n')
    else {
      rmTree(new File(dir))
      new File(dir).mkdirs()
      write
      val counts = datasets.map(t => s"$t=${spark.read.parquet(s"$dir/$t").count()}").mkString(",")
      require(!counts.contains("=0,") && !counts.endsWith("=0"), s"empty input in $dir: $counts")
      Files.writeString(marker.toPath, counts + "\n" + listing(dir))
      counts
    }
  }

  val baseTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def dayTs(secondsCol: Column, fromEpochSec: Long): Column =
    timestamp_seconds(lit(fromEpochSec) + secondsCol).cast("timestamp_ntz")

  /** Base tables at scale factor `sf` (sf 0.1: 600k lineitem, 100k events,
    * 5k documents, 2k embeddings). */
  def base(spark: => SparkSession, dir: String, sf: Double): String = {
    once(spark, dir, baseTables.map(_ + ".parquet")) {
      val parts = spark.sparkContext.defaultParallelism
      def n(x: Double): Long = math.max(1L, math.round(x * sf))
      def out(df: DataFrame, t: String): Unit =
        df.repartition(parts).write.parquet(s"$dir/$t.parquet")
      val (nCust, nSupp, nPart, nOrd, nLine, nEv, nDoc, nEmb) =
        (n(150000), n(10000), n(200000), n(1500000), n(6000000), n(1000000),
          n(50000), n(20000))
      val id = col("id")
      out(spark.range(5).select(id.cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name")), "region")
      out(spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")), "nation")
      out(spark.range(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        ui(11, 25, id).cast("int").as("c_nationkey"),
        round(u(12, id) * 10999.99 - 999.99, 2).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          ui(13, 5, id)).as("c_mktsegment")), "customer")
      out(spark.range(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        ui(21, 25, id).cast("int").as("s_nationkey"),
        round(u(22, id) * 10999.99 - 999.99, 2).as("s_acctbal")), "supplier")
      out(spark.range(nPart).select(id.as("p_partkey"),
        concat_ws(" ", pick(Seq("small", "red", "blue", "green", "large", "shiny"), ui(31, 6, id)),
          pick(Seq("ring", "widget", "bolt", "gear", "nut", "panel"), ui(32, 6, id))).as("p_name"),
        concat(lit("Brand#"), ui(33, 25, id) + 1).as("p_brand"),
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"), ui(34, 6, id)).as("p_type"),
        (ui(35, 50, id) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 1000) * 0.1, 2).as("p_retailprice")), "part")
      // 1995-01-01 .. 2001-08-01 as seconds since the epoch, whole days
      val d0 = 788918400L; val days = 2404L
      out(spark.range(nOrd).select(id.as("o_orderkey"),
        ui(41, nCust, id).as("o_custkey"),
        pick(Seq("F", "O", "P"), ui(42, 3, id)).as("o_orderstatus"),
        round(u(43, id) * 499000.0 + 1000.0, 2).as("o_totalprice"),
        dayTs(ui(44, days, id) * 86400L, d0).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          ui(45, 5, id)).as("o_orderpriority")), "orders")
      val qty = (ui(53, 50, id) + 1).cast("double")
      out(spark.range(nLine).select(ui(51, nOrd, id).as("l_orderkey"),
        ui(52, nPart, id).as("l_partkey"), ui(54, nSupp, id).as("l_suppkey"),
        (ui(55, 7, id) + 1).cast("int").as("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (lit(900.0) + ui(56, 2100, id)), 2).as("l_extendedprice"),
        (ui(57, 11, id) / 100.0).as("l_discount"),
        (ui(58, 9, id) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), ui(59, 3, id)).as("l_returnflag"),
        pick(Seq("F", "O"), ui(60, 2, id)).as("l_linestatus"),
        dayTs((ui(61, days + 95, id) + 1) * 86400L, d0).as("l_shipdate")), "lineitem")
      // 30 days from 2024-01-01, event_id order = time order, µs resolution
      val spanUs = 30L * 86400L * 1000000L
      val stepUs = spanUs / nEv
      out(spark.range(nEv).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + id * stepUs + ui(71, stepUs, id))
          .cast("timestamp_ntz").as("ts"),
        ui(72, math.max(1L, n(15000)), id).as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), ui(73, 5, id)).as("event_type"),
        least(lit(490.02), round(-log(lit(1.0) - u(74, id)) * 49.6 + 0.01, 2)).as("value"),
        format_string("{\"k\": %d}", ui(75, 100, id)).as("props")), "events")
      // word bags; every 125th doc repeats its predecessor's text exactly and
      // every 50th shares a 12-word prefix with its predecessor
      val words = array(vocab.map(lit): _*)
      def bag(docId: Column, salt: Long, len: Column): Column =
        concat_ws(" ", transform(sequence(lit(0), len - 1), i =>
          element_at(words, (pmod(xxhash64(lit(salt), docId, i), lit(vocab.size.toLong)) + 1).cast("int"))))
      val src: Column => Column = docId => bag(docId, 81, (pmod(xxhash64(lit(82L), docId), lit(80L)) + 8).cast("int"))
      val prev = id - 1
      val text = when(id % 125 === 124, src(prev))
        .when(id % 50 === 49, concat_ws(" ",
          slice(split(src(prev), " "), 1, 12), bag(id, 83, lit(20))))
        .otherwise(src(id))
      out(spark.range(nDoc).select(id.as("doc_id"), text.as("text"),
        pick(Seq("en", "en", "en", "zh", "de", "fr", "es"), ui(84, 7, id)).as("lang"),
        concat(lit("src"), id % 20).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")), "documents")
      // ten label centroids plus per-vector noise, float32 like real embeddings
      val label = ui(91, 10, id)
      out(spark.range(nEmb).select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((u(92, label, j) - 0.5) * 0.3 + (u(93, id, j) - 0.5) * 0.3).cast("float")).as("embedding"),
        label.cast("int").as("label")), "embeddings")
    }
    dir
  }

  /** ×`factor` documents + embeddings derived from `baseDir`; `seed` sets
    * the row-to-file assignment and the row order. */
  def corpus(spark: => SparkSession, baseDir: String, dir: String, factor: Int, seed: Long): String =
    once(spark, dir, Seq("documents.parquet", "embeddings.parquet")) {
      val parts = spark.sparkContext.defaultParallelism
      val k = spark.range(factor).select(col("id").as("__k"))
      def shuffled(df: DataFrame, idCol: String): DataFrame =
        df.repartition(parts, xxhash64(lit(seed), col(idCol)))
          .sortWithinPartitions(xxhash64(lit(seed + 1), col(idCol)))
      val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      shuffled(docs.crossJoin(broadcast(k)).select(
        (col("doc_id") * factor + col("__k")).as("doc_id"),
        when(col("__k") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1_"), col("__k")))).as("text"),
        col("lang"), col("source")), "doc_id")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      shuffled(emb.crossJoin(broadcast(k)).select(
        (col("vec_id") * factor + col("__k")).as("vec_id"),
        expr("transform(embedding, x -> cast(x + __k * 1e-6 as float))").as("embedding"),
        col("label")), "vec_id")
        .write.parquet(s"$dir/embeddings.parquet")
    }

  /** ×`factor` event replay in `files` parquet files with raw ns `ts`;
    * file i carries modification time base+i s, so a file source reads the
    * files in placement order. */
  def replay(spark: => SparkSession, baseDir: String, dir: String, factor: Int, seed: Long,
             files: Int): String = {
    val feed = s"$dir/feed"
    once(spark, dir, Seq("feed")) {
      val k = spark.range(factor).select(col("id").as("__k"))
      val jitterNs = JitterMinutes * 60L * 1000000000L
      spark.read.parquet(s"$baseDir/events.parquet").crossJoin(broadcast(k))
        .select(
          (col("event_id") * factor + col("__k")).as("event_id"),
          (unix_micros(col("ts").cast("timestamp")) * 1000L).as("ts"),
          (col("user_id") + col("__k") * 10000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .withColumn("__p", col("ts") +
          pmod(xxhash64(lit(seed), col("event_id")), lit(2 * jitterNs)) - lit(jitterNs))
        .repartitionByRange(files, col("__p"))
        .sortWithinPartitions(col("__p"))
        .drop("__p")
        .write.parquet(s"$feed.parquet")
      val parts = new File(s"$feed.parquet").listFiles
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
      val fd = new File(feed); fd.mkdirs()
      val t0 = 1700000000000L
      parts.zipWithIndex.foreach { case (f, i) =>
        val to = new File(fd, f"batch-$i%04d.parquet")
        Files.move(f.toPath, to.toPath)
        to.setLastModified(t0 + i * 1000L)
      }
      rmTree(new File(s"$feed.parquet"))
    }
    feed
  }
}
