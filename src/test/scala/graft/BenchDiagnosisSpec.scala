package graft

import org.scalatest.funsuite.AnyFunSuite

/** The automated band-vs-regression verdict (VERDICT r7 #3) on a
  * synthetic two-series fixture: the prior committed artifact is a
  * quiet series; the current series either keeps its floors (stable /
  * band) or shifts them (regression). Pure-function tests — no Spark. */
class BenchDiagnosisSpec extends AnyFunSuite {

  // prior series: q_heavy floor 10.0, q_mid floor 2.0, q_tiny floor 0.2
  private val priorJson =
    """{"metric":"total","runs":[
      |{"q_heavy":12.0,"q_mid":2.4,"q_tiny":0.3},
      |{"q_heavy":10.0,"q_mid":2.0,"q_tiny":0.2},
      |{"q_heavy":11.0,"q_mid":2.2,"q_tiny":0.25}
      |]}""".stripMargin

  test("priorFloors extracts the per-query minimum, skipping error runs") {
    val f = Bench.priorFloors(priorJson)
    assert(f == Map("q_heavy" -> 10.0, "q_mid" -> 2.0, "q_tiny" -> 0.2))
    val withErr = Bench.priorFloors(
      """{"runs":[{"q_a":-1.0,"q_b":3.0},{"q_a":5.0,"q_b":-1.0}]}""")
    assert(withErr == Map("q_a" -> 5.0, "q_b" -> 3.0))
  }

  private val prior = Bench.priorFloors(priorJson)

  test("stable: floors reproduce, repeats tight") {
    val cur = Map("q_heavy" -> 10.3, "q_mid" -> 2.1, "q_tiny" -> 0.22)
    assert(Bench.diagnose(prior, cur, Seq(30.0, 31.5)) == "stable")
  }

  test("band: floors intact but repeat walls spread >1.4x (ambient churn)") {
    val cur = Map("q_heavy" -> 10.3, "q_mid" -> 2.1, "q_tiny" -> 0.22)
    assert(Bench.diagnose(prior, cur, Seq(30.0, 55.0, 31.0)) == "band")
  }

  test("regression: >=half of the >=1s-floor queries shift floors >1.5x") {
    // q_heavy 10 -> 17 and q_mid 2 -> 3.5 shifted; q_tiny excluded (<1s)
    val cur = Map("q_heavy" -> 17.0, "q_mid" -> 3.5, "q_tiny" -> 0.22)
    assert(Bench.diagnose(prior, cur, Seq(40.0, 41.0)) == "regression")
  }

  test("one shifted floor out of two considered still reads regression (half rule)") {
    val cur = Map("q_heavy" -> 17.0, "q_mid" -> 2.05, "q_tiny" -> 0.22)
    assert(Bench.diagnose(prior, cur, Seq(40.0, 41.0)) == "regression")
  }

  test("a single inflated repeat reads warming, never regression") {
    val cur = Map("q_heavy" -> 25.0, "q_mid" -> 5.0, "q_tiny" -> 0.5)
    assert(Bench.diagnose(prior, cur, Seq(60.0)) == "warming")
  }

  test("priorCpuFloors reads runs_cpu; absent field yields empty (pre-r12 artifacts)") {
    val withCpu =
      """{"runs":[{"q_a":5.0}],"runs_cpu":[{"q_a":40.0},{"q_a":-1.0}]}"""
    assert(Bench.priorCpuFloors(withCpu) == Map("q_a" -> 40.0))
    assert(Bench.priorCpuFloors(priorJson) == Map.empty)
  }

  test("band-robust verdict: wall floors shifted but CPU floors intact reads band (the r11 false-alarm mode)") {
    // wall floors shift >1.5x on both comparable queries...
    val cur = Map("q_heavy" -> 17.0, "q_mid" -> 3.5, "q_tiny" -> 0.22)
    val priorCpu = Map("q_heavy" -> 100.0, "q_mid" -> 20.0)
    // ...but the queries' own CPU is flat: the JVM was WAITING
    val curCpuFlat = Map("q_heavy" -> 105.0, "q_mid" -> 21.0)
    assert(Bench.diagnose(prior, cur, Seq(40.0, 41.0), priorCpu, curCpuFlat)
      == "band")
    // CPU floors shifted WITH the walls: the plans do more work
    val curCpuUp = Map("q_heavy" -> 170.0, "q_mid" -> 35.0)
    assert(Bench.diagnose(prior, cur, Seq(40.0, 41.0), priorCpu, curCpuUp)
      == "regression")
    // no CPU data (pre-r12 prior): the wall verdict stands
    assert(Bench.diagnose(prior, cur, Seq(40.0, 41.0)) == "regression")
  }

  test("a thin CPU-comparable subset cannot veto a broad wall regression (half-coverage guard)") {
    // four comparable wall floors, all shifted >1.5x
    val prior4 = Map("a" -> 10.0, "b" -> 10.0, "c" -> 10.0, "d" -> 10.0)
    val cur4 = Map("a" -> 17.0, "b" -> 17.0, "c" -> 17.0, "d" -> 17.0)
    // CPU data exists for only ONE of the four (the rest are IO-shaped)
    val priorCpu = Map("a" -> 100.0)
    val curCpuFlat = Map("a" -> 101.0)
    assert(Bench.diagnose(prior4, cur4, Seq(40.0, 41.0), priorCpu, curCpuFlat)
      == "regression",
      "1-of-4 CPU coverage must not flip a broad wall regression to band")
    // with CPU floors covering half or more, the flat-CPU verdict holds
    val priorCpu2 = Map("a" -> 100.0, "b" -> 100.0)
    val curCpu2 = Map("a" -> 101.0, "b" -> 99.0)
    assert(Bench.diagnose(prior4, cur4, Seq(40.0, 41.0), priorCpu2, curCpu2)
      == "band")
  }

  test("floors from another core count, or an unrecorded one, read incomparable") {
    val cur = Map("q_heavy" -> 10.3, "q_mid" -> 2.1, "q_tiny" -> 0.22)
    val shifted = Map("q_heavy" -> 17.0, "q_mid" -> 3.5, "q_tiny" -> 0.22)
    // an 8-core prior against a 4-core series: never stable, never regression
    assert(Bench.diagnose(prior, cur, Seq(30.0, 31.5),
      priorCores = Some(8), cores = Some(4)) == "incomparable")
    assert(Bench.diagnose(prior, shifted, Seq(40.0, 41.0),
      priorCores = Some(8), cores = Some(4)) == "incomparable")
    // a prior artifact that does not record its core count
    assert(Bench.diagnose(prior, shifted, Seq(40.0, 41.0),
      priorCores = None, cores = Some(4)) == "incomparable")
    // equal core counts compare floors as before
    assert(Bench.diagnose(prior, cur, Seq(30.0, 31.5),
      priorCores = Some(4), cores = Some(4)) == "stable")
    assert(Bench.diagnose(prior, shifted, Seq(40.0, 41.0),
      priorCores = Some(4), cores = Some(4)) == "regression")
    assert(Bench.priorCores("""{"cpus":32,"runs":[]}""") == Some(32))
    assert(Bench.priorCores(priorJson).isEmpty)
  }

  test("no prior artifact or no comparable queries reads no_prior") {
    assert(Bench.diagnose(Map.empty, Map("q" -> 1.0), Seq(1.0, 1.0)) == "no_prior")
    // prior exists but only sub-1s floors -> nothing comparable
    assert(Bench.diagnose(Map("q_tiny" -> 0.2), Map("q_tiny" -> 0.9),
      Seq(1.0, 1.0)) == "no_prior")
  }
}
