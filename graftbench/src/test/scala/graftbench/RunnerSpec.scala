package graftbench

import org.apache.spark.sql.functions._

class RunnerSpec extends SparkSpec {
  test("an op that throws in its builder counts as failed and is not timed") {
    val r = new Runner(spark, new Tracer(false))
    val rec = r.time("boom", 0, () => throw new IllegalStateException("builder broke"))
    assert(!rec.ok)
    assert(rec.ms.isEmpty && rec.fp.isEmpty)
    assert(rec.err.exists(_.contains("builder broke")))
  }

  test("an op that fails while executing counts as failed and is not timed") {
    val r = new Runner(spark, new Tracer(true))
    val rec = r.time("bad", 0, () => spark.range(10).select(raise_error(lit("task broke")).as("x")))
    assert(!rec.ok && rec.ms.isEmpty)
    assert(rec.err.exists(_.contains("task broke")))
  }

  test("a good op is timed, fingerprinted and traced") {
    val tracer = new Tracer(true)
    val rec = new Runner(spark, tracer).time("ok", 0, () => spark.range(100).toDF())
    assert(rec.ok && rec.ms.exists(_ > 0))
    assert(rec.fp.exists(_.startsWith("100:")))
    val names = tracer.spans.map(_.name).toSet
    assert(Set("op", "operators.build", "plans.plan", "spark.exec").subsetOf(names))
    assert(tracer.spans.map(_.op).toSet == Set("ok@0"))
  }

  test("self time subtracts the part covered by child spans") {
    val t = new Tracer(true)
    val root = t.record(-1, "x", "op", 0L, 10000000L)
    t.record(root, "x", "child", 2000000L, 6000000L)
    t.record(root, "x", "child", 5000000L, 8000000L)
    val self = t.selfTimes.map { case (n, _, s) => n -> s }.toMap
    assert(math.abs(self("op") - 4.0) < 1e-9)
    assert(math.abs(self("child") - 7.0) < 1e-9)
  }
}
