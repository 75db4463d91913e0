package graftbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Each workload runs end to end at sf0.001 with tracing on, and every
  * op's fingerprint agrees across its passes. */
class SmokeSpec extends AnyFunSuite {
  private val root = Files.createTempDirectory("graftbench-smoke").toString

  Seq("ts_interactive", "llm_pipeline", "stream_ingest").foreach { w =>
    test(s"smoke run of $w completes correctly") {
      val out = s"$root/$w.json"
      Main.main(Array("--workload", w, "--seed", "3", "--seconds", "1", "--trace", "1",
        "--root", root, "--data", s"$root/data", "--out", out, "--expected", s"$root/none.json", "--smoke"))
      val line = Files.readString(Paths.get(out))
      assert(line.contains("\"correct\":true"), line)
      assert(line.contains("\"failed\":0"), line)
      Layers.functionProbes.foreach(f => assert(line.contains(s"functions.${f}_rows_per_s"), line))
    }
  }
}
