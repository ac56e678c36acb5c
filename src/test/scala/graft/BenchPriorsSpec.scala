package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins the stall-re-probe plumbing in [[Bench]] (round-9 verdict #7):
  * prior-median parsing from BENCH_TOTAL.json — including the loud-warn
  * path for malformed artifacts that used to silently disable stall
  * detection — and the suspect-threshold logic. Pure driver-side logic,
  * no SparkSession needed. */
class BenchPriorsSpec extends AnyFunSuite {

  private def tmpJson(content: String): java.io.File = {
    val f = Files.createTempFile("bench_total", ".json").toFile
    f.deleteOnExit()
    val w = new java.io.PrintWriter(f)
    try w.print(content) finally w.close()
    f
  }

  test("parsePriors reads the per-query median map from a well-formed artifact") {
    val f = tmpJson(
      """{"metric":"total","value":10.0,"queries":{"q1":2.5,"q2":0.75},"sf":"x"}""")
    assert(Bench.parsePriors(f) == Map("q1" -> 2.5, "q2" -> 0.75))
  }

  test("parsePriors: missing file, malformed JSON, and missing 'queries' all yield empty (never throw)") {
    assert(Bench.parsePriors(new java.io.File("/nonexistent/BENCH_TOTAL.json")).isEmpty)
    assert(Bench.parsePriors(tmpJson("{not json at all")).isEmpty)
    assert(Bench.parsePriors(tmpJson("""{"metric":"total","value":1.0}""")).isEmpty)
  }

  test("parsePriorSf reads the artifact's scale dir; absent/malformed yield None") {
    val f = tmpJson(
      """{"metric":"total","value":10.0,"queries":{"q1":2.5},"sf":"/root/testdata/sf0.1"}""")
    assert(Bench.parsePriorSf(f).contains("/root/testdata/sf0.1"))
    assert(Bench.parsePriorSf(new java.io.File("/nonexistent/B.json")).isEmpty)
    assert(Bench.parsePriorSf(tmpJson("{not json")).isEmpty)
    assert(Bench.parsePriorSf(tmpJson("""{"metric":"total"}""")).isEmpty)
  }

  test("stallSuspects: doubled-median AND >1s absolute regression; sentinels and fresh queries exempt") {
    val prior = Map("slow" -> 2.0, "fast" -> 0.2, "gone" -> 3.0, "flat" -> 4.0)
    val medians = Map(
      "slow" -> 4.5,  // 2.25x and +2.5s -> suspect
      "fast" -> 0.9,  // 4.5x but only +0.7s -> jitter, exempt
      "flat" -> 4.3,  // +0.3s -> exempt
      "new" -> 9.0,   // no prior -> exempt
      "bad" -> -1.0)  // failed sentinel -> exempt
    assert(Bench.stallSuspects(medians, prior) == Seq("slow"))
    // exactly 2x is NOT a suspect (strictly greater required)
    assert(Bench.stallSuspects(Map("slow" -> 4.0), prior).isEmpty)
  }

  test("sameSfPriors: cross-sf priors are absent for EVERY consumer (stall suspects included)") {
    val prior = Map("q1" -> 2.5, "q2" -> 0.75)
    // same sf (or a legacy artifact with no sf field): priors usable
    assert(Bench.sameSfPriors(prior, Some("/root/testdata/sf0.1"), "/root/testdata/sf0.1") == prior)
    assert(Bench.sameSfPriors(prior, None, "/root/testdata/sf0.1") == prior)
    // sf mismatch: empty — a sf0.001 smoke against sf0.1 priors must
    // neither fake a sub-scale set_factor nor re-probe sub-scale "stalls",
    // and a LARGER-sf run must not re-probe every query as a stall
    val crossSf = Bench.sameSfPriors(prior, Some("/root/testdata/sf0.001"), "/root/testdata/sf0.1")
    assert(crossSf.isEmpty)
    assert(Bench.stallSuspects(Map("q1" -> 9.0), crossSf).isEmpty)
  }

  test("shouldReplacePriors: best-committed-recording policy") {
    val sf = "/root/testdata/sf0.1"
    val good = tmpJson(
      s"""{"metric":"total","value":132.9,"queries":{"q1":2.5,"q2":0.75},"sf":"$sf"}""")
    // a WORSE full run at the same sf and surface must NOT clobber
    assert(!Bench.shouldReplacePriors(good, 157.2, sf, 2))
    // a better run replaces
    assert(Bench.shouldReplacePriors(good, 130.0, sf, 2))
    // surface growth replaces even when the total is higher (new
    // queries need priors at all)
    assert(Bench.shouldReplacePriors(good, 140.0, sf, 3))
    // a full run at a DIFFERENT sf keeps the committed canonical-sf
    // priors (a sf0.001 sanity pass must not clobber the sf0.1 map;
    // re-baselining sf is SPARK_GRAFT_BENCH_FORCE_TOTAL=1 territory)
    assert(!Bench.shouldReplacePriors(good, 5.0, "/root/testdata/sf0.001", 2))
    // missing/unusable artifact always replaces
    assert(Bench.shouldReplacePriors(new java.io.File("/nonexistent/B.json"), 157.2, sf, 2))
    assert(Bench.shouldReplacePriors(tmpJson("{not json"), 157.2, sf, 2))
    assert(Bench.parsePriorTotal(good).contains(132.9))
    assert(Bench.parsePriorTotal(tmpJson("{not json")).isEmpty)
  }

  test("setFactor: median per-query ratio over the common set; sentinels and fresh queries drop out") {
    val prior = Map("a" -> 2.0, "b" -> 1.0, "c" -> 4.0, "z" -> 0.0)
    val medians = Map("a" -> 2.4, "b" -> 0.9, "c" -> 4.4,
      "new" -> 9.0 /* no prior */, "bad" -> -1.0 /* failed */, "z" -> 3.0 /* zero prior */)
    // ratios: 1.2, 0.9, 1.1 -> median 1.1
    assert(Bench.setFactor(medians, prior).contains(1.1))
    assert(Bench.setFactor(Map("x" -> 1.0), prior).isEmpty)
  }

  test("priorsToCommit: growth with a worse total MERGES into committed medians; better totals replace; worse same-surface keeps") {
    val sf = "/root/testdata/sf0.1"
    val good = tmpJson(
      s"""{"metric":"total","value":3.0,"queries":{"q1":2.0,"q2":1.0},"sf":"$sf"}""")
    // grown surface, worse total: q1/q2 keep their committed medians,
    // only the new q3 adopts this run's number — a warm-band growth
    // recording must not clobber the good priors
    assert(Bench.priorsToCommit(good, sf, Map("q1" -> 3.0, "q2" -> 1.5, "q3" -> 0.5)) ==
      Some((Map("q1" -> 2.0, "q2" -> 1.0, "q3" -> 0.5), true)))
    // a removed query drops out of the merged map
    assert(Bench.priorsToCommit(good, sf, Map("q1" -> 3.0, "q3" -> 0.5, "q4" -> 0.5)) ==
      Some((Map("q1" -> 2.0, "q3" -> 0.5, "q4" -> 0.5), true)))
    // strictly better same-surface total: replace outright (not merged)
    assert(Bench.priorsToCommit(good, sf, Map("q1" -> 1.5, "q2" -> 0.9)) ==
      Some((Map("q1" -> 1.5, "q2" -> 0.9), false)))
    // grown surface AND better total: replace outright too
    assert(Bench.priorsToCommit(good, sf, Map("q1" -> 1.0, "q2" -> 0.9, "q3" -> 0.5)) ==
      Some((Map("q1" -> 1.0, "q2" -> 0.9, "q3" -> 0.5), false)))
    // worse same-surface total: keep the committed artifact
    assert(Bench.priorsToCommit(good, sf, Map("q1" -> 3.0, "q2" -> 1.5)).isEmpty)
    // cross-sf growth: keep (re-baselining is FORCE territory)
    assert(Bench.priorsToCommit(good, "/root/testdata/sf0.001",
      Map("q1" -> 0.1, "q2" -> 0.1, "q3" -> 0.1)).isEmpty)
    // no usable artifact: this run's map, verbatim
    assert(Bench.priorsToCommit(new java.io.File("/nonexistent/B.json"), sf,
      Map("q1" -> 9.0)) == Some((Map("q1" -> 9.0), false)))
  }

  test("band gate: hot-band or reprobe-heavy recordings are refused as priors") {
    // calm band, few reprobes: no refusal
    assert(Bench.refuseAsPriors(Some(1.05), 2).isEmpty)
    assert(Bench.refuseAsPriors(None, 0).isEmpty)
    // exactly the threshold is still acceptable (strictly-greater refuses)
    assert(Bench.refuseAsPriors(Some(Bench.MaxCommitSetFactor),
      Bench.MaxCommitReprobes).isEmpty)
    // the r13 driver shape: set_factor 1.388, 9 reprobes — refused on
    // band alone (and would be refused on reprobe count too)
    assert(Bench.refuseAsPriors(Some(1.388), 9).exists(_.contains("set_factor")))
    assert(Bench.refuseAsPriors(Some(1.0), 9).exists(_.contains("reprobes")))
  }

  test("budget gate: committed priors + declared new-query budgets project under 90% of the ceiling") {
    // the REAL committed artifact and the REAL query surface — this is
    // the surface-growth gate, not a fixture: adding a query without a
    // newQueryBudget declaration, or declaring past the envelope, fails
    // the build here instead of at driver recording time
    val priors = Bench.parsePriors(new java.io.File("BENCH_TOTAL.json"))
    assert(priors.nonEmpty, "no committed BENCH_TOTAL.json priors to project from")
    val names = SparkEntry.queries.keys.toSeq
    Bench.projectedTotal(priors, names, Bench.newQueryBudget) match {
      case Left(missing) =>
        fail(s"queries with neither a committed prior nor a declared budget: $missing " +
          "— add a measured entry to Bench.newQueryBudget and a BASELINE.md budget row")
      case Right(total) =>
        val cap = 0.9 * Bench.ceiling
        assert(total <= cap,
          f"projected full-set total $total%.1f s exceeds 90%% of the " +
            f"${Bench.ceiling}%.1f s ceiling ($cap%.1f s) — shave cost or stop growing")
    }
  }

  test("projectedTotal: priors win over budgets; undeclared new queries are Left") {
    val priors = Map("a" -> 2.0, "b" -> 1.0)
    val budget = Map("b" -> 9.0, "c" -> 3.0)
    // b has a prior (1.0) — its stale budget entry is ignored
    assert(Bench.projectedTotal(priors, Seq("a", "b", "c"), budget) == Right(6.0))
    assert(Bench.projectedTotal(priors, Seq("a", "d", "e"), budget) ==
      Left(Seq("d", "e")))
  }

  test("heapOffProfile: flags >2x above or below the tuned 16 GiB, not the tuned band itself") {
    assert(!Bench.heapOffProfile(16384))
    assert(!Bench.heapOffProfile(32768))  // exactly 2x: still in-profile
    assert(Bench.heapOffProfile(91136))   // round-10 driver JVM
    assert(Bench.heapOffProfile(4096))    // starved JVM is off-profile too
    assert(!Bench.heapOffProfile(8192))
  }
}
