package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s numeric settings fail fast, naming the variable and the value. */
class BenchSettingsSpec extends AnyFunSuite {

  private def rejects(name: String, bad: String): Unit = {
    val e = intercept[IllegalArgumentException](Bench.Settings.fromEnv(Map(name -> bad)))
    assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"))
  }

  test("defaults when nothing is set") {
    assert(Bench.Settings.fromEnv(Map.empty) == Bench.Settings(32, 3, 3, 2400.0))
  }

  test("SPARK_GRAFT_CPUS is a positive integer") {
    assert(Bench.Settings.fromEnv(Map("SPARK_GRAFT_CPUS" -> "8")).cpus == 8)
    Seq("eight", "", "0", "-4", "2.5").foreach(rejects("SPARK_GRAFT_CPUS", _))
  }

  test("SPARK_GRAFT_STREAM_RUNS is a positive integer") {
    assert(Bench.Settings.fromEnv(Map("SPARK_GRAFT_STREAM_RUNS" -> " 5 ")).streamRuns == 5)
    Seq("three", "0", "-1", "9999999999").foreach(rejects("SPARK_GRAFT_STREAM_RUNS", _))
  }

  test("SPARK_GRAFT_PIPELINE_RUNS is a positive integer") {
    assert(Bench.Settings.fromEnv(Map("SPARK_GRAFT_PIPELINE_RUNS" -> "1")).pipelineRuns == 1)
    Seq("x", "0", "-3", "1e3").foreach(rejects("SPARK_GRAFT_PIPELINE_RUNS", _))
  }

  test("SPARK_GRAFT_BENCH_DEADLINE_SEC is a positive finite number") {
    val name = "SPARK_GRAFT_BENCH_DEADLINE_SEC"
    assert(Bench.Settings.fromEnv(Map(name -> "90.5")).deadlineSec == 90.5)
    assert(Bench.Settings.fromEnv(Map(name -> "1e3")).deadlineSec == 1000.0)
    Seq("soon", "", "0", "-60", "NaN", "Infinity").foreach(rejects(name, _))
  }
}
