package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate's arithmetic (graft.Bench.loadFactor /
  * gateFlags) — previously inlined in main and unreachable by tests,
  * which is how round 8 shipped a gate whose blind spot went unnoticed.
  * Pins: worst-of-two-probes normalization, the clamp at 1, and the
  * (>2× AND >0.5 s, load-deflated) flag rule. */
class BenchGateSpec extends AnyFunSuite {

  test("loadFactor takes the WORST of the two probe dimensions") {
    // single-task slower (prior 210 MB/s -> current 105): factor 2
    assert(Bench.loadFactor(210, 105, 0.02, 0.02) === 2.0)
    // multi-task slower (0.02 s -> 0.06 s): factor 3 even though the
    // single-task probe reads load 1.00 — the round-8 blind spot
    assert(Bench.loadFactor(210, 210, 0.02, 0.06) === 3.0)
    // both degraded: max wins
    assert(Bench.loadFactor(210, 105, 0.02, 0.08) === 4.0)
  }

  test("loadFactor clamps at 1: a faster machine never excuses a slowdown") {
    assert(Bench.loadFactor(150, 300, 0.04, 0.01) === 1.0)
  }

  test("loadFactor treats missing probes as neutral") {
    assert(Bench.loadFactor(0, 210, 0, 0.02) === 1.0)
    // mt absent (prior round predates the probe): st still applies
    assert(Bench.loadFactor(210, 105, 0, 0.02) === 2.0)
  }

  test("gateFlags fires only past 2x AND 0.5s, load-deflated") {
    val prior = Map("a" -> 1.0, "b" -> 0.1, "c" -> 1.0, "d" -> 1.0)
    // a: 2.6x raw, load 1 -> flagged
    // b: 5x raw but 0.5s deflated is NOT > 0.5s absolute -> quiet
    // c: 1.9x -> quiet; e: no prior -> quiet
    val cur = Map("a" -> 2.6, "b" -> 0.5, "c" -> 1.9, "e" -> 9.0)
    assert(Bench.gateFlags(prior, cur, load = 1.0)
      .map(_._1) === Seq("a"))
    // the same run under measured load 1.4: a deflates to 1.86x -> quiet
    assert(Bench.gateFlags(prior, cur, load = 1.4).isEmpty)
  }

  test("gateFlags ignores non-positive priors (crashed prior run rows)") {
    assert(Bench.gateFlags(Map("a" -> -1.0), Map("a" -> 9.0), 1.0).isEmpty)
  }

  test("adjudicate: a planted persistent slowdown CONFIRMS, a transient one reads box-noise") {
    // the planted slow query: prior 1.0 s, every min-of-4 re-execution
    // still ~3x -> the gate's own rule holds on the min -> CONFIRMED
    val confirmed = Bench.adjudicate(prior = 1.0, load = 1.0,
      rerunSec = Seq(3.2, 3.0, 3.1, 3.3))
    assert(confirmed.startsWith("CONFIRMED code drift"), confirmed)
    assert(confirmed.contains("min-of-4"))
    // the box epoch: the sweep read 3x but back-to-back re-runs settle
    // at 1.2x -> the flag was machine state, not code
    val noise = Bench.adjudicate(1.0, 1.0, Seq(3.0, 1.3, 1.2, 1.25))
    assert(noise.startsWith("box-noise"), noise)
    // the 0.5 s and-guard carries over: a sub-second query at 4x its
    // prior is inside the measured noise floor, never CONFIRMED
    assert(Bench.adjudicate(0.1, 1.0, Seq(0.4, 0.42, 0.4, 0.41))
      .startsWith("box-noise"))
    // load deflation applies to the min exactly as the gate applies it
    assert(Bench.adjudicate(1.0, 1.6, Seq(3.2, 3.1, 3.0, 3.3))
      .startsWith("box-noise"), "3x raw under load 1.6 deflates inside 2x")
    // a re-run that crashes every time (Double.MaxValue sentinel) must
    // read CONFIRMED, not vanish: a query that stopped completing IS
    // code drift
    assert(Bench.adjudicate(1.0, 1.0,
        Seq(Double.MaxValue, Double.MaxValue, Double.MaxValue, Double.MaxValue))
      .startsWith("CONFIRMED"))
  }

  test("totalDriftFlag fires past 15% shared-query drift, load-deflated, growth-blind") {
    val prior = Map("a" -> 10.0, "b" -> 10.0)
    // +10% -> quiet (inside the gate)
    assert(Bench.totalDriftFlag(prior, Map("a" -> 11.0, "b" -> 11.0), 1.0).isEmpty)
    // +20% with no single query past 2x -> FIRES (the round-12 creep
    // shape: ~0.1 s/query accretion invisible to the per-query gate)
    assert(Bench.totalDriftFlag(prior, Map("a" -> 12.0, "b" -> 12.0), 1.0).nonEmpty)
    // the same +20% under measured load 1.2 -> quiet (box, not code)
    assert(Bench.totalDriftFlag(prior, Map("a" -> 12.0, "b" -> 12.0), 1.2).isEmpty)
    // registry growth: a NEW query's own cost is not drift
    assert(Bench.totalDriftFlag(prior,
      Map("a" -> 10.0, "b" -> 10.0, "new" -> 50.0), 1.0).isEmpty)
    // a REMOVED query's prior cost is not negative drift cover either:
    // only the shared set is compared, so the remaining queries' 20%
    // creep still fires
    assert(Bench.totalDriftFlag(prior + ("gone" -> 100.0),
      Map("a" -> 12.0, "b" -> 12.0), 1.0).nonEmpty)
    // empty intersection -> None, not a divide-by-zero
    assert(Bench.totalDriftFlag(Map("x" -> 1.0), Map("y" -> 1.0), 1.0).isEmpty)
  }

  test("an unparsable prior BENCH_FULL.json is recorded as gate_error, not dropped") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val prior = java.nio.file.Files.createTempFile("bench-full", ".json")
    val scan = """{"rows":10,"sec":0.1,"rows_per_sec":100,"parquet_mb_per_sec":200.0,"mt_sec":0.02}"""
    try {
      java.nio.file.Files.writeString(prior, "{\"queries\": {\"q01_x\": 1.0,")
      val err = Bench.recordFailure("regression gate")(Bench.readPrior(prior))
      assert(err.exists(_.startsWith("regression gate: ")), err)
      val line = json.readTree(Bench.fullLine(Map("q01_x" -> 1.5), scan, "sf", err))
      assert(line.path("gate_error").asText() === err.get)
      // a clean gate records null; the line still reads back as a prior
      val clean = Bench.fullLine(Map("q01_x" -> 1.5), scan, "sf", None)
      assert(json.readTree(clean).path("gate_error").isNull)
      java.nio.file.Files.writeString(prior, clean)
      assert(Bench.readPrior(prior) === ((Map("q01_x" -> 1.5), 200.0, 0.02)))
    } finally java.nio.file.Files.delete(prior)
  }
}
