package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a result: row count plus the sum of
  * `xxhash64` over every column, computed in ONE one-row aggregate. That
  * aggregate is also the action every timed op ends with: unlike `count()`,
  * it reads every output column, so Catalyst cannot prune work away.
  *
  * Floating-point values are hashed as 10-significant-digit strings, so a
  * last-ulp difference from a different summation order (partition count,
  * shuffle-fetch order) does not change the fingerprint; arrays, structs
  * and maps are normalized element-wise, maps after sorting their entries.
  */
object Fingerprint {

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast("double") + lit(0.0) // folds -0.0 into 0.0
      when(isnan(d), lit("NaN")).when(d.isNotNull, format_string("%.9e", d))
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.exists(f => needsNorm(f.dataType)) =>
      when(c.isNotNull, struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case MapType(kt, vt, _) =>
      transform(array_sort(map_entries(c)), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v")))
    case _: UserDefinedType[_] => c.cast("string")
    case _ => c
  }

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType | _: UserDefinedType[_] => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  /** The one-row aggregate: (n: long, h: decimal(38,0)). */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => norm(df.col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("n"), coalesce(sum(rowHash.cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("h"))
  }

  /** Fingerprint string from the aggregate's single row. */
  def read(row: org.apache.spark.sql.Row): String = s"${row.getLong(0)}:${row.getDecimal(1)}"

  /** `collect` runs the frame's own QueryExecution (`head` would plan a
    * new one under a limit), so its executed plan carries the metrics. */
  def of(df: DataFrame): String = read(frame(df).collect().head)

  /** Combine per-batch fingerprints of one output (sums are additive). */
  def combine(a: String, b: String): String = {
    val Array(n1, h1) = a.split(":"); val Array(n2, h2) = b.split(":")
    s"${n1.toLong + n2.toLong}:${BigDecimal(h1) + BigDecimal(h2)}"
  }

  val Empty = "0:0"
}
