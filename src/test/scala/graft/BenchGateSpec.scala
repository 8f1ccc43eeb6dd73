package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.gate]] — the canary-normalized regression gate. The two
  * properties that define it: ambient machine load (which moves the
  * canaries) never strikes, and a genuine code regression (which cannot
  * move the canaries) always does — even when it is spread across many
  * queries, the failure mode of the old estimate-ambient-from-the-queries
  * design. */
class BenchGateSpec extends AnyFunSuite {

  private val floors = Map(
    "q13" -> 0.07, "q140" -> 0.20, "q115" -> 0.80, "q125" -> 1.50,
    "q130" -> 1.80, "q148" -> 2.20, "q96" -> 0.70, "q01" -> 0.13)
  private val canaryFloors = Map(
    "canary_cpu" -> 0.40, "canary_shuffle" -> 0.30, "canary_scan" -> 0.15)
  private def scaled(m: Map[String, Double], f: Double) =
    m.view.mapValues(_ * f).toMap

  test("uniform ambient load (canaries slow too) strikes nothing") {
    // the r12 reality: untouched queries at 1.5–2.0× on a loaded machine
    val results = scaled(floors, 1.8).toSeq
    val (ambient, regs, warns) = Bench.gate(results, floors, Set.empty,
      scaled(canaryFloors, 1.8), canaryFloors)
    assert(math.abs(ambient - 1.8) < 1e-9)
    assert(regs.isEmpty && warns.isEmpty)
  }

  test("uneven ambient: worst query at 2.0x while canaries median 1.5x still absorbs") {
    val results = (scaled(floors, 1.4) + ("q13" -> 0.07 * 2.0) +
      ("q140" -> 0.20 * 1.9)).toSeq
    val (_, regs, warns) = Bench.gate(results, floors, Set.empty,
      scaled(canaryFloors, 1.5), canaryFloors)
    // 2.0 < 1.5 (ambient) * 1.5 (threshold); and q13's absolute excess is
    // 0.07*(2.0-1.5) = 0.035 < 0.15 — sub-second noise never strikes alone
    assert(regs.isEmpty && warns.isEmpty)
  }

  test("an injected 2x regression on a quiet machine warns, then strikes") {
    val results = (floors + ("q125" -> 1.50 * 2.0)).toSeq
    val (ambient, regs1, warns1) = Bench.gate(results, floors, Set.empty,
      canaryFloors, canaryFloors)
    assert(ambient === 1.0)
    assert(regs1.isEmpty && warns1.map(_._1) === Seq("q125"))
    // second run, same riser: escalates
    val (_, regs2, warns2) = Bench.gate(results, floors, Set("q125"),
      canaryFloors, canaryFloors)
    assert(regs2.map(_._1) === Seq("q125") && warns2.isEmpty)
  }

  test("a regression spread across EVERY query cannot masquerade as ambient") {
    // all queries 2x, canaries quiet: the old query-median design read
    // ambient=2.0 and passed this; the canary design flags the big movers
    val results = scaled(floors, 2.0).toSeq
    val (ambient, _, warns) = Bench.gate(results, floors, Set.empty,
      canaryFloors, canaryFloors)
    assert(ambient === 1.0)
    val flagged = warns.map(_._1).toSet
    assert(Set("q115", "q125", "q130", "q148", "q96").subsetOf(flagged))
  }

  test("a 2x regression still trips THROUGH ambient load (ratios compose)") {
    // machine at 1.6x AND q130 regressed 2x on top: 3.2x observed
    val results = (scaled(floors, 1.6) + ("q130" -> 1.80 * 3.2)).toSeq
    val (_, _, warns) = Bench.gate(results, floors, Set.empty,
      scaled(canaryFloors, 1.6), canaryFloors)
    assert(warns.map(_._1) === Seq("q130"))
  }

  test("no canary floors yet: legacy heavy-cohort median still normalizes") {
    val results = scaled(floors, 1.8).toSeq
    val (ambient, regs, warns) = Bench.gate(results, floors, Set.empty,
      canaryFloors, Map.empty)
    assert(math.abs(ambient - 1.8) < 1e-9)
    assert(regs.isEmpty && warns.isEmpty)
  }

  test("a fast machine (canaries below floor) cannot mask a riser: ambient floors at 1") {
    val results = (floors + ("q125" -> 1.50 * 1.7)).toSeq
    val (ambient, _, warns) = Bench.gate(results, floors, Set.empty,
      scaled(canaryFloors, 0.5), canaryFloors)
    assert(ambient === 1.0)
    assert(warns.map(_._1) === Seq("q125"))
  }

  test("failed queries (-1) and queries without floors never flag") {
    val results = Seq("qX" -> -1.0, "qNew" -> 9.9, "q13" -> 0.07)
    val (_, regs, warns) = Bench.gate(results, floors, Set.empty,
      canaryFloors, canaryFloors)
    assert(regs.isEmpty && warns.isEmpty)
  }

  test("stretch ambient: a MEASURED mid-sweep burst excuses its stretch and nothing else") {
    // the r17 driver pattern: a contiguous cluster at 2.5x while the
    // bracketing canaries read ~1.0 — invisible to the global ambient.
    // The interleaved canary times the burst stretch at 2.5x: queries in
    // that stretch are excused; an identical riser in a QUIET stretch
    // still warns (a genuine regression cannot move the canary).
    val burstStretch = Set("q115", "q125")
    val results = (floors +
      ("q115" -> 0.80 * 2.5) + ("q125" -> 1.50 * 2.5) + // inside the burst
      ("q130" -> 1.80 * 2.5)).toSeq                     // quiet stretch
    val stretch = (floors.keySet.map(_ -> 1.0).toMap ++
      burstStretch.map(_ -> 2.5)).toMap
    val (_, regs, warns) = Bench.gate(results, floors, Set.empty,
      canaryFloors, canaryFloors, stretch)
    assert(regs.isEmpty)
    assert(warns.map(_._1) === Seq("q130"),
      "only the riser the stretch canary did NOT measure as a burst flags")
    // a sub-1.0 stretch ratio (fast stretch) floors at 1 — it can never
    // TIGHTEN the gate below the recorded floor
    val fast = floors.keySet.map(_ -> 0.4).toMap
    val (_, _, w2) = Bench.gate((floors + ("q125" -> 1.50 * 1.7)).toSeq,
      floors, Set.empty, canaryFloors, canaryFloors, fast)
    assert(w2.map(_._1) === Seq("q125"))
  }

  test("post-sweep re-run fires on stall-shaped timings only") {
    // a 9x stall on a small floor (the r16 cluster that slipped under the
    // first 10x cut) re-runs; a first-round query (no floor), a failed
    // query, a genuine-but-small 5x on a millisecond floor (jitter), and
    // a steady heavy query do not
    assert(Bench.needsPostSweepRerun(0.45, Some(0.05)))          // 9x, +0.4 s
    assert(Bench.needsPostSweepRerun(4.41, Some(0.095)))         // the r16 q44
    assert(!Bench.needsPostSweepRerun(0.45, None))               // no floor yet
    assert(!Bench.needsPostSweepRerun(-1.0, Some(0.5)))          // failed run
    assert(!Bench.needsPostSweepRerun(0.010, Some(0.002)))       // 5x but 8 ms
    assert(!Bench.needsPostSweepRerun(3.0, Some(1.0)))           // 3x: gate's job
    assert(!Bench.needsPostSweepRerun(0.45, Some(0.0)))          // degenerate floor
  }

  test("strikes stick when the sweep flagged, even if every re-run cleared") {
    // q201's r18 shape: the sweep timing trips the post-sweep >4x guard,
    // the re-run clears it, the gate never sees a riser — the strike
    // must still arm so a repeat next round escalates to regression
    val postSweep = Set("q201").filter(_ =>
      Bench.needsPostSweepRerun(1.61, Some(0.40)))
    assert(postSweep === Set("q201"), "the r18 q201 timing trips the guard")
    assert(Bench.strikeSet(Set.empty, Set.empty, postSweep) === Set("q201"))
    // the provisional-gate path: flagged in the raw sweep, cleared by the
    // riser re-run (finalRisers empty) — still armed
    assert(Bench.strikeSet(Set("q44"), Set.empty, Set.empty) === Set("q44"))
    // all three sources union; a printed riser is of course armed too
    assert(Bench.strikeSet(Set("qa"), Set("qb"), Set("qc")) ===
      Set("qa", "qb", "qc"))
  }

  test("the contract line parses as JSON under a comma-decimal JVM locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val line = try Bench.contractLine(12.3456, Seq("q01" -> 0.5, "q130" -> 1.25),
      "/data/sf0.1", "8") finally java.util.Locale.setDefault(saved)
    assert(line === """{"metric":"total","value":12.346,"unit":"sec",""" +
      """"queries":{"q01":0.500,"q130":1.250},"sf":"/data/sf0.1","cpus":"8"}""")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.path("value").asDouble() === 12.346)
    assert(json.path("queries").path("q130").asDouble() === 1.25)
  }
}
