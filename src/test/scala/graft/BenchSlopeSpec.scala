package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Growth-slope gate: compares per-query warm medians between an sf0.01
  * and an sf0.1 bench run (both written by `graft.Bench` as
  * `target/bench_<sf>.json`) and fails any query whose time grew more
  * than [[BenchSlopeSpec.maxRatio]]× across the 10× data step.
  *
  * This is the gate BenchBudgetSpec cannot be: an absolute sf0.1 budget
  * passes an O(N²) operator right up until the round where it explodes
  * (the round-2 quadratic cosine-dedup cost exactly that), while the
  * slope between two scales exposes the exponent immediately — a linear
  * operator lands well under 10× (fixed scheduler/setup cost inflates
  * the small-SF denominator), a quadratic one lands near 100×.
  *
  * Queries below [[floorSec]] at sf0.1 are skipped: they are dominated
  * by the ~0.2-0.5 s per-query scheduling floor at BOTH scales, so their
  * ratio measures jitter, not growth. Like BenchBudgetSpec, the spec
  * cancels when either file is missing — unit-test runs shouldn't
  * require two prior bench runs.
  */
class BenchSlopeSpec extends AnyFunSuite {

  private val maxRatio = 15.0 // 10× data + headroom for shuffle log-terms
  private val floorSec = 0.30 // below this, scheduling floor ≈ total

  /** Per-query medians, load-corrected by each run's OWN probe
    * readings (BenchGate, r16): the r15 slope reds came from comparing
    * a quiet sf0.01 leg against a loaded sf0.1 leg — a condition
    * mismatch, not growth. Correcting each leg by its own in-window
    * host-noise probes puts both legs on the same (quiet-equivalent)
    * footing; quiet runs are untouched. */
  private def load(f: java.io.File): Map[String, Double] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    BenchGate.correctedQueries(root)
  }

  test("no query's sf0.01→sf0.1 growth exceeds the linear-ish envelope") {
    val small = new java.io.File("/root/repo/target/bench_sf0.01.json")
    val big = new java.io.File("/root/repo/target/bench_sf0.1.json")
    assume(small.exists() && big.exists(),
      "need bench_sf0.01.json + bench_sf0.1.json — run graft.Bench at both SFs")
    val s = load(small)
    val b = load(big)
    // surface both legs' run ids so a committed test-report is
    // matchable to the exact bench artifacts it judged (r13: a stale
    // snapshot reddened the round with nothing in the report to show it)
    def runId(f: java.io.File) = new com.fasterxml.jackson.databind
      .ObjectMapper().readTree(f).path("run_id").asText("<none>")
    info(s"judging sf0.01 run_id=${runId(small)}, sf0.1 run_id=${runId(big)}")
    // the two runs must cover the same query set or ratios silently skip
    val diff = (b.keySet -- s.keySet) ++ (s.keySet -- b.keySet)
    assert(diff.isEmpty, s"query sets differ: ${diff.mkString(", ")}")
    val offenders = b.collect {
      case (q, tBig)
          if tBig >= floorSec && s(q) > 0 && tBig / s(q) > maxRatio =>
        f"$q: ${s(q)}%.3fs -> $tBig%.3fs (${tBig / s(q)}%.1fx)"
    }
    assert(offenders.isEmpty,
      "superlinear growth across the 10x data step (O(N^2) suspects):\n  " +
        offenders.mkString("\n  "))
  }

  test("top-25 cost rows stay linear-ish across the sf0.1→sf1 decade") {
    // optional leg (r16 verdict #5, widened top-10 → top-25 in r18):
    // graft.SlopeSf1 prices the top cost rows
    // against a 10×-replicated sf0.1 corpus (disjoint key
    // spaces; text/embedding rotation so replicas don't collapse into
    // near-duplicates — see SlopeSf1's scaladoc) and writes
    // target/slope_sf1.json. One more decade of evidence on exactly
    // the rows where hidden superlinearity would hurt most.
    val f = new java.io.File("/root/repo/target/slope_sf1.json")
    assume(f.exists(),
      "no target/slope_sf1.json — run graft.Dev slope /root/testdata/sf0.1")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def leg(k: String): Map[String, Double] = {
      val node = root.path(k)
      node.fieldNames.asScala
        .map(q => q -> node.path(q).asDouble()).toMap
    }
    val s01 = leg("sf01"); val s1 = leg("sf1")
    info(s"sf1 leg run_id=${root.path("run_id").asText("<none>")}")
    val offenders = s1.collect {
      case (q, tBig)
          if tBig >= floorSec && s01.getOrElse(q, 0.0) > 0 &&
            tBig / s01(q) > maxRatio =>
        f"$q: ${s01(q)}%.3fs -> $tBig%.3fs (${tBig / s01(q)}%.1fx)"
    }
    assert(offenders.isEmpty,
      "superlinear growth across the sf0.1->sf1 decade:\n  " +
        offenders.mkString("\n  "))
  }
}
