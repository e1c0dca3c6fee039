package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench ladder's round-validity rule, pinned against the round-3
  * forensic values that motivated it: a round whose ALU probes show host
  * vCPU throttling must never contribute to a headline efficiency. */
class BenchValiditySpec extends AnyFunSuite {

  test("the round-3 throttled graded round is invalid (700 ms probe vs 140 floor)") {
    // BENCH_r03.json alu_ms_legs [145,168,700], floor 140 — this round
    // published a physically impossible 2→8 efficiency of 1.507
    assert(!Bench.roundIsValid(Seq(145, 168, 700), floorMs = 140))
  }

  test("the round-3 hardened run's rounds are ALSO invalid under bracketing") {
    // BENCH/run_1.json: [140,146,496] and [145,407,155] — each round had
    // one dirty probe; the strict rule rejects both (its 0.897 stays
    // builder-committed evidence, not a driver headline)
    assert(!Bench.roundIsValid(Seq(140, 146, 496), 140))
    assert(!Bench.roundIsValid(Seq(145, 407, 155), 140))
  }

  test("leg validity: run_9 round 2 keeps its clean 8c leg, drops the rest") {
    // BENCH/run_9.json round 2 probed [240,146,146,299] (floor 139) with
    // ladder order (32c, 8c, 2c): the 8c leg sat between two quiet probes
    // and its 13.2 s matched the quiet-window reference, but round-level
    // gating discarded it. Leg-level keeps it — and still rejects the legs
    // actually bracketed by dirty probes.
    val alus = Seq[Double](240, 146, 146, 299)
    assert(!Bench.legIsValid(alus, 0, 139)) // 32c: 240 dirty
    assert(Bench.legIsValid(alus, 1, 139))  // 8c: 146/146 quiet
    assert(!Bench.legIsValid(alus, 2, 139)) // 2c: 299 dirty
    // an efficiency sample needs BOTH its legs valid — this round yields
    // none (the spec mirrors pairValidIdx's conjunction)
    assert(!(Bench.legIsValid(alus, 1, 139) && Bench.legIsValid(alus, 2, 139)))
  }

  test("leg validity requires a closing probe (no bracketing = no evidence)") {
    assert(!Bench.legIsValid(Seq(140, 140), 1, 140)) // leg 1 has no probe 2
    assert(Bench.legIsValid(Seq(140, 140), 0, 140))
  }

  test("a quiet bracketed round is valid; the 25% boundary is inclusive") {
    assert(Bench.roundIsValid(Seq(150, 146, 152, 160), 140))
    assert(Bench.roundIsValid(Seq(175, 175, 175, 175), 140))  // exactly 1.25×
    assert(!Bench.roundIsValid(Seq(176, 140, 140, 140), 140)) // one dirty endpoint
    assert(!Bench.roundIsValid(Nil, 140)) // no probes = no evidence
  }

  // ---- cross-run best-valid citation (round-5 judge item 1) ----

  private def runJson(eff: Double, samples: Seq[Double], throttled: Boolean): String =
    s"""{"flagship":{"scaling_efficiency_2to8":$eff,""" +
      s""""eff_2to8_samples":${samples.map(s => f"$s%.3f").mkString("[", ",", "]")},""" +
      s""""throttled":$throttled}}"""

  test("best-valid citation: most samples wins, NOT highest efficiency") {
    // run_16-shaped (2 samples, 0.927) must beat a 1-sample 0.937 run —
    // selecting on efficiency would be cherry-picking
    val got = Bench.bestValidCitation(Seq(
      "run_8.json" -> runJson(0.876, Seq(0.876), throttled = false),
      "run_15.json" -> runJson(0.937, Seq(0.937), throttled = false),
      "run_16.json" -> runJson(0.927, Seq(0.910, 0.944), throttled = false),
      "run_17.json" -> """{"flagship":{"throttled":true,"valid_rounds":0}}"""))
    assert(got.contains(("run_16.json", 0.927, 2)))
  }

  test("best-valid citation: throttled runs and sample-less runs never cited") {
    assert(Bench.bestValidCitation(Seq(
      "run_9.json" -> runJson(1.507, Seq(1.507), throttled = true),
      "run_10.json" -> """{"flagship":{"throttled":true}}""")).isEmpty)
    assert(Bench.bestValidCitation(Nil).isEmpty)
    // malformed / empty content is skipped, not fatal
    assert(Bench.bestValidCitation(Seq("run_3.json" -> "")).isEmpty)
  }

  test("in-leg-burst plausibility gate: superlinear 2to8 samples are excluded") {
    // live round-5 forensic: a probe-valid round read t2=48.9/t8=9.7 →
    // 1.258 — impossible (per-thread resources weakly larger at 2c), so
    // it is an in-leg burst the bracketing probes cannot see
    assert(!Bench.plausibleRatio(48.9, 9.7))
    assert(Bench.plausibleRatio(36.0, 9.7))   // the quiet-window reading (0.928)
    assert(Bench.plausibleRatio(40.0, 10.0))  // exactly 1.0 passes
    // one-sided on purpose: a wide-leg burst only deflates the ratio —
    // indistinguishable from genuine poor scaling, so it stays
    assert(Bench.plausibleRatio(36.0, 30.0))
  }

  test("best-valid citation: implausible (pre-gate) artifact medians never cited") {
    assert(Bench.bestValidCitation(Seq(
      "run_18.json" -> runJson(1.094, Seq(1.258, 0.93), throttled = false))).isEmpty)
  }

  test("best-valid citation: artifacts marked excluded are never cited") {
    // run_38-shaped: its own probes passed, but it is a burst-poisoned
    // sample marked by hand; the next-best valid artifact is cited instead
    val poisoned = "{\"excluded\":\"ambient burst, not a claim\"," +
      runJson(0.713, Seq(0.713, 0.72), throttled = false).drop(1)
    val got = Bench.bestValidCitation(Seq(
      "run_37.json" -> runJson(0.9, Seq(0.9), throttled = false),
      "run_38.json" -> poisoned))
    assert(got.contains(("run_37.json", 0.9, 1)))
    assert(Bench.bestValidCitation(Seq("run_38.json" -> poisoned)).isEmpty)
  }

  test("best-valid citation: sample-count tie breaks to the later run") {
    val got = Bench.bestValidCitation(Seq(
      "run_2.json" -> runJson(0.95, Seq(0.95, 0.95), throttled = false),
      "run_11.json" -> runJson(0.90, Seq(0.90, 0.90), throttled = false)))
    assert(got.contains(("run_11.json", 0.90, 2)))
  }
}
