package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed execution of an op. `ms` is empty when the op threw: a failed
  * op is recorded with its error and never timed. */
final case class OpRec(op: String, pass: Int, ms: Option[Double], fp: Option[String],
                       err: Option[String], buildMs: Double = 0, planMs: Double = 0,
                       phases: Map[String, Double] = Map.empty,
                       facts: Option[PlanFacts.Facts] = None) {
  def ok: Boolean = err.isEmpty
}

/** Times ops the same way for every workload: from the builder call to the
  * end of the fingerprint aggregate, the one action that forces every
  * output column. With tracing on, the op gets a root span with children
  * `operators.build`, `plans.plan` (forcing the executed plan, with the
  * tracker's phases as sub-spans) and `spark.exec` (the action), and its
  * Spark jobs run under job group `gb/<op>/<phase>`. */
final class Runner(val spark: SparkSession, val tracer: Tracer) {
  private val sc = spark.sparkContext
  private def group(op: String, phase: String): Unit =
    if (tracer.enabled) sc.setJobGroup(s"${Runner.GroupPrefix}$op/$phase", op, interruptOnCancel = false)

  def time(name: String, pass: Int, build: () => DataFrame): OpRec = {
    val op = s"$name@$pass"
    val t0 = System.nanoTime()
    try {
      tracer.span(-1, op, "op") { root =>
        val (df, b1) = tracer.span(root, op, "operators.build") { _ =>
          group(op, "build"); val d = build(); (d, System.nanoTime())
        }
        val fpFrame = Fingerprint.frame(df)
        val p1 = if (tracer.enabled) tracer.span(root, op, "plans.plan") { plan =>
          group(op, "plan")
          val p0 = System.nanoTime()
          fpFrame.queryExecution.executedPlan
          Phases.of(fpFrame.queryExecution).foldLeft(p0) { case (at, (k, ms)) =>
            tracer.record(plan, op, s"plans.$k", at, at + (ms * 1e6).toLong)
            at + (ms * 1e6).toLong
          }
          System.nanoTime()
        } else b1
        val row = tracer.span(root, op, "spark.exec") { _ => group(op, "exec"); fpFrame.collect().head }
        val t1 = System.nanoTime()
        if (tracer.enabled) sc.clearJobGroup()
        OpRec(name, pass, Some((t1 - t0) / 1e6), Some(Fingerprint.read(row)), None,
          buildMs = (b1 - t0) / 1e6, planMs = (p1 - b1) / 1e6,
          phases = if (tracer.enabled) Phases.of(fpFrame.queryExecution) else Map.empty,
          facts = if (tracer.enabled) Some(PlanFacts.of(fpFrame.queryExecution.executedPlan)) else None)
      }
    } catch {
      case e: Throwable =>
        if (tracer.enabled) sc.clearJobGroup()
        OpRec(name, pass, None, None, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
    }
  }
}

object Runner {
  val GroupPrefix = "gb/"
}
