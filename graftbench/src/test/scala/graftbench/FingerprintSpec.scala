package graftbench

import org.apache.spark.sql.functions._

class FingerprintSpec extends SparkSpec {
  private def data = spark.range(0, 5000).select(
    col("id"), (col("id") % 7).cast("string").as("k"), (col("id") / 3.0).as("d"),
    array(col("id").cast("double"), lit(-0.0)).as("arr"),
    struct(col("id").as("a"), (col("id") * 0.5).as("b")).as("st"),
    map(col("id") % 3, col("id") * 1.5).as("m"))

  test("the fingerprint does not depend on the partition count or row order") {
    val base = Fingerprint.of(data.coalesce(1))
    assert(base.startsWith("5000:"))
    Seq(2, 7, 31).foreach(n => assert(Fingerprint.of(data.repartition(n)) == base, s"$n partitions"))
    assert(Fingerprint.of(data.orderBy(col("id").desc).repartition(5)) == base)
  }

  test("a changed value or a missing row changes the fingerprint") {
    val base = Fingerprint.of(data)
    assert(Fingerprint.of(data.withColumn("k", when(col("id") === 42, "x").otherwise(col("k")))) != base)
    assert(Fingerprint.of(data.filter(col("id") =!= 7)) != base)
  }

  test("last-ulp noise and negative zero do not change the fingerprint") {
    val a = spark.range(0, 100).select((col("id") * 0.1).as("d"))
    val b = spark.range(0, 100).select((col("id") * 0.1 * (lit(1.0) + lit(1e-15))).as("d"))
    val z = spark.range(0, 1).select(lit(-0.0).as("d")); val p = spark.range(0, 1).select(lit(0.0).as("d"))
    assert(Fingerprint.of(a) == Fingerprint.of(b))
    assert(Fingerprint.of(z) == Fingerprint.of(p))
  }

  test("per-batch fingerprints combine to the whole") {
    val whole = Fingerprint.of(data)
    val parts = Seq(data.filter(col("id") < 1000), data.filter(col("id") >= 1000)).map(Fingerprint.of)
    assert(parts.foldLeft(Fingerprint.Empty)(Fingerprint.combine) == whole)
  }
}
