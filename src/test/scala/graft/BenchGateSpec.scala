package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-query vs-pin gate: r10 proved the 13-query gate's blind spot
  * — an event-analytics cluster (q_resample, q_funnel, q_outliers, …)
  * rode 2-3× over its r9 numbers with rc=0 because those queries had no
  * pin and the flat 0.3 s budget slack absorbed the drift. Since r11
  * EVERY headline query is pinned ([[Bench.pinnedSecs]]), the ceiling
  * is 2× + a 0.1 s jitter floor, and contention is normalized by the
  * run-wide median of secs/pin (pins are settled values, so the median
  * reads machine-wide contention directly). Pure functions, no Spark
  * session: the gate must be provable without a 4-minute bench run. */
class BenchGateSpec extends AnyFunSuite {

  private val base = Bench.baselineSecs("q1_pricing")

  test("a deliberate 2.5x slowdown on an r5-pinned query trips the gate") {
    val results = Seq("q1_pricing" -> base * 2.5, "q_metrics" -> 0.30)
    val breaches = Bench.baselineBreaches(results, factor = 1.0)
    assert(breaches.size == 1)
    assert(breaches.head.startsWith("q1_pricing"))
  }

  test("a 2.5x breach on a PREVIOUSLY-UNPINNED query now trips (the r10 blind spot)") {
    // q_funnel was exactly the class of query that rode 2-3x with rc=0
    // in BENCH_r10 — it must not be able to do that again
    val pin = Bench.pinnedSecs("q_funnel")
    val breaches = Bench.baselineBreaches(Seq("q_funnel" -> pin * 2.5), 1.0)
    assert(breaches.nonEmpty && breaches.head.startsWith("q_funnel"))
  }

  test("1.9x stays inside the gate; exactly 2.0x is NOT a breach (strict >)") {
    assert(Bench.baselineBreaches(Seq("q1_pricing" -> base * 1.9), 1.0).isEmpty)
    assert(Bench.baselineBreaches(Seq("q1_pricing" -> base * 2.0), 1.0).isEmpty)
  }

  test("the jitter floor absorbs absolute noise on the shortest queries only") {
    // q_unicode_nfc pins at ~0.1 s: 2x + 0.1 s floor ≈ 3x — a 2.5x
    // reading on a 0.1 s query is JIT noise, not a regression
    val short = Bench.pinnedSecs("q_unicode_nfc")
    assert(Bench.baselineBreaches(Seq("q_unicode_nfc" -> short * 2.5), 1.0).isEmpty)
    assert(Bench.baselineBreaches(
      Seq("q_unicode_nfc" -> (short * 2 + 0.11)), 1.0).nonEmpty)
    // on a ~1 s query the same floor is negligible: 2.2x trips
    assert(Bench.baselineBreaches(Seq("q1_pricing" -> base * 2.2), 1.0).nonEmpty)
  }

  test("contention normalization scales the ceiling") {
    val results = Seq("q1_pricing" -> base * 2.5)
    assert(Bench.baselineBreaches(results, factor = 1.0).nonEmpty)
    // a run-wide 1.3x contention factor lifts the ceiling to 2.6x
    assert(Bench.baselineBreaches(results, factor = 1.3).isEmpty)
  }

  test("pinFactor reads machine-wide contention from the pin-ratio median") {
    // idle run: every query at its pin → factor clamps to 1
    val idle = Bench.pinnedSecs.toSeq.map { case (k, v) => k -> v }
    assert(Bench.pinFactor(idle) == 1.0)
    // uniform 1.5x contention: the median reads it
    val contended = idle.map { case (k, v) => k -> v * 1.5 }
    assert(math.abs(Bench.pinFactor(contended) - 1.5) < 1e-9)
    // ONE 10x outlier on an idle run cannot drag the median
    val outlier = idle.map { case (k, v) =>
      if (k == "q_funnel") k -> v * 10 else k -> v }
    assert(Bench.pinFactor(outlier) == 1.0)
    // the clamp at 3 means the ceiling tops out at 6x: an engine-wide
    // uniform regression beyond that still breaches — the factor can
    // never normalize a catastrophe away
    val broken = idle.map { case (k, v) => k -> v * 7 }
    assert(Bench.pinFactor(broken) == 3.0)
    assert(Bench.baselineBreaches(broken, Bench.pinFactor(broken)).nonEmpty)
  }

  test("failed queries (-1) and non-pinned queries never trip the gate") {
    val results = Seq("q1_pricing" -> -1.0, "q_not_a_query" -> 99.0)
    assert(Bench.baselineBreaches(results, 1.0).isEmpty)
    assert(Bench.perQueryRatios(results).isEmpty)
  }

  test("perQueryRatios covers exactly the timed pinned set") {
    val results = Seq("q1_pricing" -> base, "q_pack_chunks" -> 0.2,
      "q_not_a_query" -> 0.5)
    val ratios = Bench.perQueryRatios(results).toMap
    assert(ratios.keySet == Set("q1_pricing", "q_pack_chunks"))
    assert(math.abs(ratios("q1_pricing") - 1.0) < 1e-9)
  }

  test("every headline query has a budget AND a pin; no orphan pins") {
    val noBudget = Bench.headline.filterNot(Bench.budgetSecs.contains)
    assert(noBudget.isEmpty, s"headline queries without a budget: $noBudget")
    val noPin = Bench.headline.filterNot(Bench.pinnedSecs.contains)
    assert(noPin.isEmpty,
      s"headline queries without a pin (the r10 blind spot): $noPin")
    val orphan = Bench.pinnedSecs.keys.filterNot(Bench.headline.contains)
    assert(orphan.isEmpty, s"pinned queries not in headline: $orphan")
  }

  test("pin-drift report: soft, contention-normalized, persistent only across rounds") {
    // 1.5x on a ~1 s pin drifts (over 1.3x + floor) but does NOT gate
    val results = Seq("q1_pricing" -> base * 1.5, "q_metrics" -> 0.30)
    assert(Bench.baselineBreaches(results, 1.0).isEmpty,
      "drift under 2x must never gate")
    val (drift, persistent) = Bench.pinDriftReport(results, 1.0)
    assert(drift.map(_._1) == Seq("q1_pricing"))
    assert(persistent.isEmpty, "no prior ratios -> nothing is persistent")
    // the same query over threshold in the PRIOR round's ratios is the
    // two-rounds-running signal
    val (_, p2) = Bench.pinDriftReport(results, 1.0,
      prior = Map("q1_pricing" -> 1.45))
    assert(p2 == Seq("q1_pricing"))
    // prior drift on a query that recovered this round is NOT reported
    val (_, p3) = Bench.pinDriftReport(Seq("q1_pricing" -> base * 1.0), 1.0,
      prior = Map("q1_pricing" -> 1.45))
    assert(p3.isEmpty)
    // contention normalization applies: a run-wide 1.5x factor absorbs
    // a uniform 1.5x reading
    val (d4, _) = Bench.pinDriftReport(results, factor = 1.5)
    assert(d4.isEmpty)
    // the jitter floor shields the shortest pins from ratio noise
    val short = Bench.pinnedSecs("q_unicode_nfc") // ~0.1 s
    val (d5, _) = Bench.pinDriftReport(Seq("q_unicode_nfc" -> short * 1.5), 1.0)
    assert(d5.isEmpty)
  }

  test("r14 hot-run profile: a contention burst on a short-pin query is " +
    "cleared by the retry ladder instead of red-flagging an unchanged engine") {
    // the BENCH_r14 shape: the whole 91-query run ~1.2x hot, and q_chi2
    // (0.28 s pin) caught a 2.84x relative burst that the IMMEDIATE
    // retry re-measured still inside the same burst. With the idle-
    // spaced second round the burst has moved on (the adjudication run
    // read 1.067x) — rc must be 0.
    val hot = Bench.pinnedSecs.toSeq.map { case (k, v) =>
      if (k == "q_chi2") k -> v * 2.84 else k -> v * 1.2 }
    var spaced = 0
    var calls = 0
    val (resolved, _, pf) = Bench.resolveBreaches(hot,
      remeasure = { name =>
        assert(name == "q_chi2", "only the breaching query is re-measured")
        calls += 1
        // round 0 lands inside the same burst; round 1 (idle-spaced) clears
        if (calls == 1) Bench.pinnedSecs(name) * 2.8
        else Bench.pinnedSecs(name) * 1.07
      },
      spacer = _ => spaced += 1)
    assert(spaced == 1, "the second retry must be idle-spaced exactly once")
    // the verdict uses the FIRST-PASS factor the retries were decided
    // under — a post-retry recompute could only shrink the threshold
    assert(math.abs(pf - 1.2) < 1e-9)
    assert(Bench.baselineBreaches(resolved, pf).isEmpty,
      "a burst that clears after imposed idle must not breach")
  }

  test("a genuine 3x single-query regression still breaches through both retries") {
    val hot = Bench.pinnedSecs.toSeq.map { case (k, v) =>
      if (k == "q_chi2") k -> v * 3.0 else k -> v * 1.0 }
    val (resolved, _, pf) = Bench.resolveBreaches(hot,
      remeasure = name => Bench.pinnedSecs(name) * 3.0, // repeats: real
      spacer = _ => ())
    val breaches = Bench.baselineBreaches(resolved, pf)
    assert(breaches.nonEmpty && breaches.head.startsWith("q_chi2"),
      "retries must never absorb a reproducible regression")
  }

  test("resolveBreaches keeps minima, skips cleared queries, and survives " +
    "a throwing remeasure") {
    val pin = Bench.pinnedSecs("q_funnel")
    // idle background so the contention median reads 1.0, not the
    // breaching query's own ratio
    def profile = Bench.pinnedSecs.toSeq.map { case (k, v) =>
      if (k == "q_funnel") k -> v * 2.5 else k -> v }
    def timeOf(rs: Seq[(String, Double)]) = rs.toMap.apply("q_funnel")
    // a retry that comes back WORSE is discarded (min-keeping)
    val worse = Bench.resolveBreaches(profile,
      remeasure = _ => pin * 9.9, spacer = _ => ())._1
    assert(timeOf(worse) == pin * 2.5)
    // a query cleared in round 0 is not re-run in round 1
    var calls = 0
    val cleared = Bench.resolveBreaches(profile,
      remeasure = { _ => calls += 1; pin }, spacer = _ => ())._1
    assert(calls == 1 && timeOf(cleared) == pin)
    // a throwing remeasure keeps the original sample instead of failing
    val thrown = Bench.resolveBreaches(profile,
      remeasure = _ => sys.error("boom"), spacer = _ => ())._1
    assert(timeOf(thrown) == pin * 2.5)
    // an idle profile never re-measures or spaces
    var touched = false
    val idle = Bench.pinnedSecs.toSeq
    val out = Bench.resolveBreaches(idle,
      remeasure = { _ => touched = true; 0.0 },
      spacer = _ => touched = true)._1
    assert(out == idle && !touched)
  }

  test("priorRatios round-trips through the state file; total on absence/garbage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prior").toString
    // absence degrades to empty, never throws
    assert(Bench.priorRatios(dir).isEmpty)
    assert(Bench.priorRatios("/nonexistent/path").isEmpty)
    // write -> read round trip (3dp, sorted keys)
    Bench.writePriorRatios(Seq("q1_pricing" -> 1.456, "q_funnel" -> 0.9), dir)
    val back = Bench.priorRatios(dir)
    assert(back == Map("q1_pricing" -> 1.456, "q_funnel" -> 0.9))
    // garbage content degrades to empty
    java.nio.file.Files.write(
      new java.io.File(dir, Bench.PriorRatiosFile).toPath, "{broken".getBytes)
    assert(Bench.priorRatios(dir).isEmpty)
  }

  test("only a run in the pins' local[32] context replaces the prior-ratio state") {
    assert(Bench.persistsPriorRatios(32))
    for (cpus <- Seq(1, 4, 8, 16, 31, 33, 64))
      assert(!Bench.persistsPriorRatios(cpus), s"$cpus cores must not overwrite it")
  }

  test("the stdout line is scalars only and stays under 1 KB for the full headline set") {
    // worst case: every headline query timed, slow, and drifting for two
    // rounds; a long scale-factor path
    val results = Bench.headline.map(q => q -> Bench.pinnedSecs(q) * 100)
    val line = Bench.stdoutLine(results.map(_._2).sum, 100.0, 3.0, 3.0,
      Bench.headline.size, Bench.headline.size, "/data/graft/testdata/" + "x" * 100)
    assert(line.getBytes("UTF-8").length < 1024, s"${line.length} bytes: $line")
    import org.json4s._
    val fields = org.json4s.jackson.JsonMethods.parse(line) match {
      case JObject(fs) => fs
      case other => fail(s"not a JSON object: $other")
    }
    assert(fields.forall { case (_, v) => !v.isInstanceOf[JObject] && !v.isInstanceOf[JArray] },
      s"non-scalar field: $line")
    assert(fields.map(_._1).toSet == Set("metric", "value", "unit", "vs_baseline",
      "run_factor", "pin_factor", "n_pin_drift", "n_pin_drift_persistent", "sf"))
  }
}
