package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's measurement-integrity machinery (BenchGuard) —
  * pure-function specs, no Spark session:
  *  - the sf1 ratio-baseline key carries the scale-up generator version
  *    (VERDICT r10 #4): a generator bump with unchanged source bytes
  *    must hit the LOUD reset path, not silently compare new-generator
  *    ratios against a stale-generator baseline;
  *  - sentinel normalization (VERDICT r11 #1b): a candidate whose
  *    elevation matches the concurrent drift of a plan-stable probe
  *    self-clears as environment; a true regression beside a calm
  *    sentinel stays flagged;
  *  - git provenance is empty-safe.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("Sf1Order: sentinels first, newest-first after, same membership (r15)") {
    // the confirm pass normalizes against the sentinels' own section
    // measurements, so they must be measured before any candidate can
    // flag; newest-first puts budget overruns on the oldest anchors
    assert(Bench.Sf1Order.take(2) ==
      Seq("q01_pricing_summary", "q05_window_rank"))
    assert(Bench.Sf1Order.toSet == Bench.Sf1Subset.toSet)
    assert(Bench.Sf1Order.size == Bench.Sf1Subset.size) // no dup drop
    // newest-first: the r14/r15 additions precede the r5-era heavy tail
    val order = Bench.Sf1Order.zipWithIndex.toMap
    assert(order("p99_margin_mining") < order("p02_ngram_jaccard"))
    assert(order("p96_graph_rank") < order("p47_quality_classifier"))
  }

  // ---- baseline key: content fp + generator version ----

  test("baselineKey appends the generator version; empty fp stays empty") {
    assert(BenchGuard.baselineKey("abc123") == "abc123" + BenchData.GeneratorVersion)
    assert(BenchGuard.baselineKey("") == "")
  }

  private def ratioFile(fp: String): String =
    s"""{"__data_fp":"$fp","q01_pricing_summary":1.2,"__abs__q01_pricing_summary":0.5}"""

  test("same (data, generator) key: no reset") {
    val key = BenchGuard.baselineKey("deadbeefdeadbeef")
    assert(!BenchGuard.baselineReset(key, ratioFile(key)))
  }

  test("a GENERATOR bump alone triggers the loud reset (VERDICT r10 #4)") {
    // same source bytes, baseline frozen under a different generator
    val prior = "deadbeefdeadbeef" + "g1"
    val now = "deadbeefdeadbeef" + "g2"
    assert(BenchGuard.baselineReset(now, ratioFile(prior)))
  }

  test("the CURRENT generator version rides the key Bench persists") {
    // regression pin for the exact r11 gap: the key must embed
    // BenchData.GeneratorVersion, so bumping the version constant
    // necessarily changes the key
    val key = BenchGuard.baselineKey("deadbeefdeadbeef")
    assert(key.endsWith(BenchData.GeneratorVersion))
    assert(BenchGuard.parsePrevFp(ratioFile(key)).contains(key))
  }

  test("a legacy unversioned baseline resets once, then the versioned key sticks") {
    val bare = "deadbeefdeadbeef" // pre-r12 file: bare content fp
    val now = BenchGuard.baselineKey(bare)
    assert(BenchGuard.baselineReset(now, ratioFile(bare)))
    assert(!BenchGuard.baselineReset(now, ratioFile(now)))
  }

  test("data regeneration still resets; first run / missing fp disarm quietly") {
    val a = BenchGuard.baselineKey("aaaaaaaaaaaaaaaa")
    val b = BenchGuard.baselineKey("bbbbbbbbbbbbbbbb")
    assert(BenchGuard.baselineReset(b, ratioFile(a)))
    assert(!BenchGuard.baselineReset(a, "")) // first run: nothing to reset
    assert(!BenchGuard.baselineReset("", ratioFile(a))) // no fp: guard disarms
  }

  test("parsePrevFp reads both legacy and versioned forms") {
    assert(BenchGuard.parsePrevFp(ratioFile("deadbeef")).contains("deadbeef"))
    assert(BenchGuard.parsePrevFp(ratioFile("deadbeefg2")).contains("deadbeefg2"))
    assert(BenchGuard.parsePrevFp("{}").isEmpty)
  }

  // ---- per-fp sections (r13: the cross-SF clobber incident) ----

  test("a legacy single-section file reads as one section under its fp") {
    val txt = ratioFile("aaaag2")
    assert(BenchGuard.baselineSections(txt).keySet == Set("aaaag2"))
    val body = BenchGuard.baselineSection("aaaag2", txt).get
    assert(body.contains("\"q01_pricing_summary\":1.2"))
    assert(!body.contains("__data_fp")) // the fp pair never leaks into a section
  }

  test("writing one fp's section PRESERVES every other fp's section") {
    // the r13 incident, replayed: an sf0.001 smoke writes its own
    // section into a file holding the frozen sf0.1 baseline
    val frozen = ratioFile("sf01fpg2") // legacy format, the committed state
    val afterSmoke = BenchGuard.renderBaselineFile(frozen, "sf0001fpg2",
      """"p02_ngram_jaccard":1.3,"__abs__p02_ngram_jaccard":1.0""")
    // the smoke's write migrated the file to format 2 AND kept sf0.1
    assert(BenchGuard.baselineSection("sf01fpg2", afterSmoke).exists(
      _.contains("\"q01_pricing_summary\":1.2")))
    assert(BenchGuard.baselineSection("sf0001fpg2", afterSmoke).exists(
      _.contains("p02_ngram_jaccard")))
    // the next full sf0.1 run still finds its frozen section: NO reset
    assert(!BenchGuard.baselineReset("sf01fpg2", afterSmoke))
    // and re-writing the sf0.1 section keeps the smoke's
    val afterFull = BenchGuard.renderBaselineFile(afterSmoke, "sf01fpg2",
      """"q01_pricing_summary":1.2,"__abs__q01_pricing_summary":0.5""")
    assert(BenchGuard.baselineSections(afterFull).keySet ==
      Set("sf01fpg2", "sf0001fpg2"))
  }

  test("reset means only 'no section for THIS fp' — other sections stay") {
    val multi = BenchGuard.renderBaselineFile(ratioFile("ag2"), "bg2",
      """"q01_pricing_summary":2.0""")
    assert(BenchGuard.baselineReset("cg2", multi)) // fresh fp: loud reset
    assert(!BenchGuard.baselineReset("ag2", multi))
    assert(!BenchGuard.baselineReset("bg2", multi))
    assert(!BenchGuard.baselineReset("", multi)) // no fp: disarm
  }

  // ---- trip rule (two-dimension, unchanged semantics from r8) ----

  test("trips needs ratio growth, noise floor, and absolute growth together") {
    // genuine cliff: all three dimensions
    assert(BenchGuard.trips(Some(2.0), Some(1.8), ratio = 6.0, abs = 5.4))
    // ratio grew but absolute is sub-second noise
    assert(!BenchGuard.trips(Some(2.0), Some(0.3), ratio = 6.0, abs = 0.9))
    // ratio grew because the denominator improved; absolute at baseline
    assert(!BenchGuard.trips(Some(2.0), Some(1.8), ratio = 3.5, abs = 1.9))
    // no baseline ratio: never trips
    assert(!BenchGuard.trips(None, Some(1.8), ratio = 6.0, abs = 5.4))
    // baseline carries no absolute: ratio + floor suffice
    assert(BenchGuard.trips(Some(2.0), None, ratio = 6.0, abs = 5.4))
  }

  // ---- sentinel normalization (synthetic-load scenario) ----

  test("sentinel drift: ratio of probe to its clean base, floored at 1") {
    assert(BenchGuard.sentinelDrift(3.0, 1.0) == 3.0)
    assert(BenchGuard.sentinelDrift(0.8, 1.0) == 1.0) // faster = no load
    assert(BenchGuard.sentinelDrift(-1.0, 1.0) == 1.0) // probe failed
    assert(BenchGuard.sentinelDrift(3.0, -1.0) == 1.0) // no clean base
  }

  test("synthetic load: elevation matching sentinel drift self-clears") {
    // the r11 p49 shape: frozen baseline ratio 2.0 / abs 2.655; the
    // loaded window measures reps ~5s and confirm 5.0 while the
    // plan-stable sentinel concurrently runs 3x its clean base
    val prevRatio = Some(2.0)
    val prevAbs = Some(2.655)
    val med01 = 1.6 // sf0.1 median
    val rawAbs = 5.0
    // WITHOUT the sentinel the flag stands (this is what cost r10+r11):
    assert(BenchGuard.trips(prevRatio, prevAbs, rawAbs / med01, rawAbs))
    // WITH a 3x-drifted sentinel the confirm normalizes under threshold:
    val drift = BenchGuard.sentinelDrift(sentinel = 3.0, sentinelBase = 1.0)
    val eff = BenchGuard.effectiveAbs(rawAbs, confirm = 5.0, drift = drift)
    assert(math.abs(eff - 5.0 / 3.0) < 1e-9)
    assert(!BenchGuard.trips(prevRatio, prevAbs, eff / med01, eff))
  }

  test("shuffle-shaped load invisible to the scan probe still self-clears (r13)") {
    // the r12 p44 incident, replayed: scan sentinel calm (drift 1.0),
    // shuffle sentinel sees x1.7 — the candidate's 1.7x elevation
    // normalizes back to baseline and the flag self-clears
    val scanDrift = BenchGuard.sentinelDrift(0.23, 0.23)     // calm
    val shuffleDrift = BenchGuard.sentinelDrift(0.34, 0.20)  // loaded
    val drift = BenchGuard.combinedDrift(scanDrift, shuffleDrift)
    assert(drift == 1.7)
    val eff = BenchGuard.effectiveAbs(rawAbs = 3.5, confirm = 3.5, drift = drift)
    assert(eff < 2.1) // back under the 2.032-baseline trip zone
    // and with BOTH probes calm, a real elevation keeps its magnitude
    assert(BenchGuard.effectiveAbs(3.5, 3.5,
      BenchGuard.combinedDrift(1.0, 1.0)) == 3.5)
  }

  test("a true regression beside a calm sentinel stays flagged") {
    val drift = BenchGuard.sentinelDrift(sentinel = 1.05, sentinelBase = 1.0)
    val eff = BenchGuard.effectiveAbs(8.0, confirm = 8.0, drift = drift)
    assert(eff > 7.5) // barely normalized
    assert(BenchGuard.trips(Some(2.0), Some(2.655), eff / 1.6, eff))
  }

  test("drift only divides out what it explains: excess elevation keeps its raw read (r13)") {
    // a true 4x regression under a 1.3x-loaded window: the old
    // unconditional division would shave the confirm by 1.3 anyway;
    // the gate sees 4.0 > 1.3 * 1.5 and keeps the raw evidence
    val eff = BenchGuard.effectiveAbs(rawAbs = 8.0, confirm = 8.0,
      drift = 1.3, elevation = 4.0)
    assert(eff == 8.0)
    // elevation ~= drift: explained, normalizes exactly as before
    val ok = BenchGuard.effectiveAbs(rawAbs = 6.0, confirm = 6.0,
      drift = 3.0, elevation = 3.0)
    assert(math.abs(ok - 2.0) < 1e-9)
    // boundary: elevation == drift * tol still explained
    val edge = BenchGuard.effectiveAbs(4.5, 4.5, drift = 2.0,
      elevation = 2.0 * BenchGuard.ElevationTol)
    assert(math.abs(edge - 2.25) < 1e-9)
    // unknown elevation (no prior baseline): old behavior — normalize
    assert(math.abs(BenchGuard.effectiveAbs(6.0, 6.0, 3.0) - 2.0) < 1e-9)
  }

  test("effectiveAbs never exceeds the raw best-of and survives failed confirms") {
    // a confirm FASTER than the reps: raw best-of already took it; the
    // normalized value is the min
    assert(BenchGuard.effectiveAbs(2.0, confirm = 1.5, drift = 1.0) == 1.5)
    // failed confirm (-1/-3): raw stands
    assert(BenchGuard.effectiveAbs(5.0, confirm = -3.0, drift = 2.0) == 5.0)
    // drift can only shrink the confirm, never inflate a fast one
    assert(BenchGuard.effectiveAbs(2.0, confirm = 4.0, drift = 4.0) == 1.0)
  }

  // ---- git provenance ----

  test("gitProvenance returns the repo HEAD sha, empty-safe elsewhere") {
    val (sha, dirty) = BenchGuard.gitProvenance(new java.io.File("."))
    assert(sha.matches("[0-9a-f]{40}")) // this test runs inside the repo
    assert(dirty.isDefined)
    val (noSha, noDirty) =
      BenchGuard.gitProvenance(java.nio.file.Files.createTempDirectory("nogit").toFile)
    assert(noSha == "" || noSha.matches("[0-9a-f]{40}")) // tmp under a repo? be lenient
    // a tmpdir outside any repo yields git exit!=0 -> empty-safe path
    if (noSha.isEmpty) assert(noDirty.isEmpty)
  }

  test("medianRep picks the median rep by index: ties, failed reps, all failed") {
    assert(Bench.medianRep(Seq(3.0, 1.0, 2.0)) == 2)
    // equal times: one of the tied reps, never a fallback to rep 0
    assert(Set(1, 2)(Bench.medianRep(Seq(9.0, 2.0, 2.0))))
    // failed reps (-1) drop out before the median is taken
    assert(Bench.medianRep(Seq(-1.0, 5.0, 4.0)) == 1)
    assert(Bench.medianRep(Seq(-1.0, -1.0, 4.0)) == 2)
    assert(Bench.medianRep(Seq(-1.0, -1.0, -1.0)) == 0)
  }
}
