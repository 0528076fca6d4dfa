package graft

import graft.gates.{Gates, Pin}

/** Benchmark main: runs the SURVEY §6 headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line of scalars
  * ([[stdoutLine]]); the per-query seconds, ratios and drift lists go to
  * the `BENCH_FULL.json` side file.
  *
  * - Materialises results through the `noop` sink so projections are not
  *   pruned away by a bare count() — the timing covers the full computation.
  * - One UNTIMED warm-up pass over every headline query first (pays JVM
  *   JIT, whole-stage-codegen compilation, parquet file listing, and
  *   shuffle/broadcast infra startup once, outside any timed run), then
  *   three timed iterations per query, best-of reported. r4 showed why:
  *   under end-of-round machine contention a single cold run can land 5×
  *   its steady-state time and best-of-2 still keeps it.
  *   (A pass-major round-robin order was tried for r8 and rejected: it
  *   measured a uniform ~1.5× slower across all 36 queries — revisiting
  *   a query after 35 others thrashes the codegen/JIT caches — which
  *   would inflate the very numbers the baseline comparison reads.)
  * - Budget breaches get ONE retry pass at the end of the run: the
  *   round driver's machine takes multi-second contention bursts (r7:
  *   the testdata regeneration overlapped the bench and pushed three
  *   queries 2-4× over budget while the suite median sat at 0.47× of
  *   budget), and back-to-back iterations put all three samples of one
  *   query inside the same burst. A breach re-measured minutes later is
  *   noise if it clears and a regression if it repeats.
  * - A failing query is reported as -1.0 and fails the process — a broken
  *   query must not masquerade as a fast one.
  */
object Bench {

  /** Every gate that carries a [[Pin]], in registry order. Why a gate is
    * or is not benched is noted at the gate. */
  private val benched: Seq[(String, Pin)] =
    Gates.all.flatMap(g => g.bench.map(g.name -> _))

  /** The headline queries. */
  val headline: Seq[String] = benched.map(_._1)

  /** Round-over-round regression budgets, calibrated against the round
    * driver's OWN machine: the BENCH_r04 per-query seconds (a contended
    * end-of-round run — every query ~1.3× slower than an idle box, i.e.
    * the realistic worst case this gate actually runs under) + 25%, plus
    * a 0.1 s absolute jitter floor (0.3 s until r11). q_ann_ivf uses the
    * idle-machine 0.79 s with extra headroom instead of its r4 outlier
    * (3.86 s — adjudicated as driver-side optimizer CPU on a contended
    * machine; the typedLit centroid literal removes that sensitivity).
    * Breaching any budget fails the process — a regression must not ride
    * along silently.
    * Each gate's [[Pin.budget]] holds the raw number, and its `budget:`
    * note the measurement behind it: "X s warmed (rN)" is a local warmed
    * best-of-3 from round N, × 1.3 (the slowdown observed since r4 from
    * an idle local run to the contended bench machine). */
  val budgetSecs: Map[String, Double] =
    // slack shrunk r11 (0.3 -> 0.1 flat): the r10 driver run showed an
    // event-analytics cluster riding 2-3x over its r9 numbers with
    // rc=0 — for a 0.3-0.5 s query the flat 0.3 s was ~2-3x of
    // headroom all by itself. 0.1 s covers measured same-harness
    // jitter; verified breach-free against the r11 settled idle run.
    benched.map { case (k, p) => k -> (p.budget * 1.25 + 0.1) }.toMap

  /** Pinned baseline: the round-5 clean-run seconds per query (sf0.1,
    * local[32], warmed best-of-3, idle machine) — also recorded in
    * BASELINE.json. The emitted `vs_baseline` ratio (this run's total /
    * baseline total over the shared query set) is what makes the
    * "within 2× of baseline" gate measurable round over round. These
    * are the pins marked [[Pin.baseline]]. */
  val baselineSecs: Map[String, Double] =
    benched.collect { case (k, p) if p.baseline => k -> p.pin }.toMap

  /** FULL-coverage per-query pins (r11): every headline query, not just
    * the 13 r5-baseline ones — the r10 verdict's blind spot was exactly
    * the unpinned 75 (an event-analytics cluster rode 2-3x over its r9
    * numbers with rc=0 because only budget slack covered it). Values
    * are the r11 settled idle run (sf0.1, local[32], full-Bench
    * harness — warm-up pass + best-of-3, the ONLY context these
    * numbers are comparable in; the r10 bisect proved standalone-JVM
    * numbers differ ~2x on short queries). The 13 r5-pinned queries
    * keep their [[baselineSecs]] values so the long-lived provenance
    * is single-source.
    *
    * RE-BASE POLICY (the q_pack_chunks precedent, PERF.md r10): a pin
    * may be moved ONLY with evidence that the code is not slower —
    * either a git bisect proving the dataflow byte-identical to the
    * pinned revision (the number was never reproducible), or the min of
    * an idle `runMain graft.Profile <query>` in the SAME harness context
    * after a deliberate, documented plan change (the q_labelprop r11
    * re-pin). "The suite got slower this round" is not
    * evidence — that is what the gate exists to catch. Drift that is
    * real but under the 2x gate surfaces in the `pin_drift` report
    * below ([[pinDriftReport]]): persistent >1.3x two rounds running is
    * the signal to either fix the regression or re-base WITH evidence,
    * before rot compounds under the gate. Each gate's [[Pin.pin]] holds
    * its value, with its provenance noted at the gate. */
  val pinnedSecs: Map[String, Double] = benched.map { case (k, p) => k -> p.pin }.toMap

  /** Per-query ratio of this run's seconds to its pin, for every
    * successfully-timed query [[pinnedSecs]] covers (since r11: the
    * whole headline). */
  def perQueryRatios(results: Seq[(String, Double)]): Seq[(String, Double)] =
    results.collect { case (k, v) if v >= 0 && pinnedSecs.contains(k) =>
      k -> v / pinnedSecs(k) }

  /** The round contract's per-query ceiling: a pinned query slower than
    * 2× its pin is a regression even when the AGGREGATE vs_baseline
    * stays green — r9 proved an outlier can hide there (q_pack_chunks
    * rode at 2.27× inside an aggregate of 1.154). */
  val MaxVsBaseline = 2.0

  /** Soft pin-rot threshold: contention-normalized ratios above this
    * are REPORTED (never gated — the 2x gate stays the contract) so a
    * pin quietly riding 1.3-2x does not rot unexamined as the suite
    * grows. */
  val PinDriftThreshold = 1.3

  /** The soft drift report: queries whose contention-normalized ratio
    * (secs / pin / factor, after the jitter floor) exceeds
    * [[PinDriftThreshold]] — plus, when the PREVIOUS round's per-query
    * ratios are supplied ([[priorRatios]] reads the newest committed
    * BENCH_r*.json), the PERSISTENT subset that also drifted last round:
    * one round of drift is usually contention the settled close
    * disproves; two rounds running is a real trend — fix it or re-base
    * with evidence (see the policy note on [[pinnedSecs]]). */
  def pinDriftReport(results: Seq[(String, Double)], factor: Double,
                     prior: Map[String, Double] = Map.empty)
      : (Seq[(String, Double)], Seq[String]) = {
    val drifting = results.collect {
      case (k, v) if v >= 0 && pinnedSecs.get(k).exists(b =>
          v > b * PinDriftThreshold * factor + PinJitterFloor) =>
        k -> v / pinnedSecs(k)
    }
    // prior holds the PREVIOUS run's drift set: membership IS the
    // "drifted last round" fact (its qualification was already
    // contention-normalized there) — re-testing the stored raw ratio
    // against the threshold would silently drop drifters that qualified
    // under a fast-machine factor < 1
    val persistent = drifting.collect {
      case (k, _) if prior.contains(k) => k
    }
    (drifting, persistent)
  }

  /** The drift report's cross-run memory file: the previous run's DRIFT
    * SET — the [[pinDriftReport]] output, whose QUALIFICATION was
    * contention-normalized and jitter-floored (so a round run under
    * uniform contention or short-pin noise never poisons the next
    * round's persistence check); stored VALUES are the raw secs/pin
    * ratios for human reading, and membership alone carries the
    * drifted-last-round fact. Written at the end of every local[32] run and
    * committed with the round — the committed state IS the previous
    * round's settled close. (The driver's own BENCH_r*.json files
    * truncate the metric line and cannot serve.) Intra-round re-runs
    * shift the comparison to "the previous run", which only makes
    * persistence MORE sensitive — a drift that holds across two settled
    * runs is the same signal. */
  val PriorRatiosFile = "BENCH_PRIOR.json"

  /** Previous run's per-query ratios — empty when absent/unparseable:
    * the report degrades to current-round-only, never throws. */
  def priorRatios(dir: String = "."): Map[String, Double] =
    scala.util.Try {
      val f = new java.io.File(dir, PriorRatiosFile)
      if (!f.isFile) Map.empty[String, Double]
      else org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")) match {
        case org.json4s.JObject(fs) => fs.collect {
          case (k, org.json4s.JDouble(v)) => k -> v
          case (k, org.json4s.JDecimal(v)) => k -> v.toDouble
          case (k, org.json4s.JInt(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty[String, Double]
      }
    }.getOrElse(Map.empty)

  /** Locale-pinned 3dp formatting: the `f` interpolator renders through
    * the DEFAULT locale, and a comma-decimal locale would emit invalid
    * JSON that [[priorRatios]]' Try then silently swallows forever —
    * the persistence feature dead with no error. */
  private[graft] def num3(r: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(r))

  /** The stdout metric line: scalars only (3-decimal), a fixed set of
    * fields whatever the headline set, so a reader that keeps only the
    * last ~2 KB of output can parse it (with the per-query map it had
    * outgrown that window). The maps and drift lists live in
    * BENCH_FULL.json. */
  private[graft] def stdoutLine(total: Double, vsBaseline: Double, runFactor: Double,
                                pinFactor: Double, nPinDrift: Int,
                                nPinDriftPersistent: Int, sfDir: String): String =
    s"""{"metric":"total","value":${num3(total)},"unit":"sec",""" +
      s""""vs_baseline":${num3(vsBaseline)},"run_factor":${num3(runFactor)},""" +
      s""""pin_factor":${num3(pinFactor)},"n_pin_drift":$nPinDrift,""" +
      s""""n_pin_drift_persistent":$nPinDriftPersistent,"sf":"$sfDir"}"""

  /** Only a run in the pins' own `local[32]` context may replace
    * [[PriorRatiosFile]]: ratios on fewer cores drift for want of cores. */
  private[graft] def persistsPriorRatios(cpus: Int): Boolean = cpus == 32

  /** Persist this run's DRIFT SET for the next run's persistence
    * comparison — best-effort (a read-only checkout must not fail the
    * bench). */
  def writePriorRatios(ratios: Seq[(String, Double)], dir: String = "."): Unit =
    scala.util.Try {
      val json = ratios.sortBy(_._1)
        .map { case (k, r) => "\"" + k + "\":" + num3(r) }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(
        new java.io.File(dir, PriorRatiosFile).toPath, json.getBytes("UTF-8"))
    }

  /** Absolute jitter floor on the pinned gate: pins are settled idle
    * numbers, and the shortest queries (~0.1 s) see ±0.1 s of
    * same-harness JIT/page-cache noise that a pure ratio would read as
    * 2x. Kept SMALL — the flat 0.3 s budget slack was how the r10
    * event-analytics cluster rode unflagged. */
  val PinJitterFloor = 0.1

  /** Pinned queries breaching [[MaxVsBaseline]] after contention
    * normalization (`factor` — the run-wide median of secs/pin, see
    * [[pinFactor]]: pins are settled values, so the median ratio reads
    * machine-wide contention directly; a real regression moves one
    * ratio, not the median). */
  def baselineBreaches(results: Seq[(String, Double)],
                       factor: Double): Seq[String] =
    results.collect {
      case (k, v) if v >= 0 && pinnedSecs.get(k).exists(b =>
          v > b * MaxVsBaseline * factor + PinJitterFloor) =>
        f"$k ${v / pinnedSecs(k)}%.2fx > ${MaxVsBaseline * factor}%.2fx pinned (+${PinJitterFloor}%.1fs floor)"
    }

  /** Contention estimate for the pinned gate: run-wide median of
    * secs/pin, clamped to [1, 3] (idle ≈ 1.0 by construction; the r10
    * driver's contention bursts read ~1.3-2x here; a uniform ≥3x is an
    * engine-wide regression and must still breach). The budget gate's
    * median can't serve: budgets carry ~2x slack, so their median sits
    * near 0.5 and clamps to 1 even under real contention. */
  def pinFactor(results: Seq[(String, Double)]): Double = {
    val ratios = results.collect {
      case (k, v) if v >= 0 && pinnedSecs.contains(k) => v / pinnedSecs(k)
    }.sorted
    if (ratios.isEmpty) 1.0
    else math.min(3.0, math.max(1.0, ratios(ratios.size / 2)))
  }

  /** Contention estimate for the BUDGET gate: run-wide median of
    * secs/budget clamped the same way (budgets carry ~2x slack, so this
    * median reads ~0.5 idle and only scales the gate when the whole run
    * is genuinely hot). */
  def budgetFactor(results: Seq[(String, Double)]): Double = {
    val ratios = results.collect {
      case (k, v) if v >= 0 && budgetSecs.contains(k) => v / budgetSecs(k)
    }.sorted
    if (ratios.isEmpty) 1.0
    else math.min(3.0, math.max(1.0, ratios(ratios.size / 2)))
  }

  /** One query's budget verdict under a contention factor. */
  def budgetOver(name: String, secs: Double, factor: Double): Boolean =
    secs >= 0 && budgetSecs.get(name).exists(b => secs > b * factor)

  /** One query's pinned-2x verdict under a contention factor. */
  def pinOver(name: String, secs: Double, factor: Double): Boolean =
    secs >= 0 && pinnedSecs.get(name).exists(b =>
      secs > b * MaxVsBaseline * factor + PinJitterFloor)

  /** How many breach-retry rounds a run gets: round 0 is the existing
    * immediate end-of-suite retry; round 1 is the r14 hardening — an
    * IDLE-SPACED second retry reserved for queries still breaching after
    * round 0. BENCH_r14 proved one immediate retry is not enough: a
    * ~1.2x-hot driver run caught q_chi2 (0.28 s pin) inside a 2.4x
    * relative burst and the immediate retry re-measured it still inside
    * the SAME burst — rc=1 on an engine whose five flagged queries all
    * read 0.86-1.11x vs pin minutes later on an idle box. A burst that
    * survives [[RetrySpacingMs]] of imposed idle is a regression, not
    * contention. */
  val MaxRetryRounds = 2

  /** Idle spacing before the second retry round (milliseconds): long
    * enough for a scheduler-level contention burst (GC storm, driver-box
    * cron, page-cache eviction) to move on, short enough to keep the
    * bench inside its harness window. */
  val RetrySpacingMs = 15000L

  /** Re-measure breaching queries until none remain or the retry rounds
    * are exhausted, keeping per-query minima (a retry can only improve a
    * reported time — the r7 contract). Contention factors are computed
    * ONCE from the first pass and used for every round AND the caller's
    * final verdict (returned alongside the results): retries only lower
    * times, so per-round or post-retry factor recomputation could only
    * SHRINK the thresholds — flagging a query that was never offered a
    * retry, the exact false-positive class this ladder exists to
    * eliminate. Fixed factors guarantee every reported breach was
    * re-measured in every round it stayed breaching. Breach sets are
    * recomputed per round from the UPDATED results so a query cleared
    * in round 0 is never re-run in round 1; `spacer` runs before every
    * round after the first (the idle gap). Pure given injected
    * `remeasure`/`spacer` so BenchGateSpec can prove the
    * false-positive/true-regression split without a bench run. */
  def resolveBreaches(firstPass: Seq[(String, Double)],
                      remeasure: String => Double,
                      spacer: Int => Unit,
                      maxRounds: Int = MaxRetryRounds)
      : (Seq[(String, Double)], Double, Double) = {
    val bf = budgetFactor(firstPass)
    val pf = pinFactor(firstPass)
    var results = firstPass
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val breaching = results.collect {
        case (n, s) if budgetOver(n, s, bf) || pinOver(n, s, pf) => n
      }.toSet
      if (breaching.isEmpty) done = true
      else {
        if (round > 0) spacer(round)
        results = results.map {
          case (n, s) if breaching(n) =>
            val retry = try math.min(s, remeasure(n))
                        catch { case _: Throwable => s }
            if (retry < s)
              System.err.println(f"[bench] $n retry round $round: ${s}%.2f -> " +
                f"${retry}%.2f (earlier sample discarded as a contention burst)")
            n -> retry
          case kv => kv
        }
      }
      round += 1
    }
    (results, bf, pf)
  }

  /** Local cores for the Bench and Profile sessions: `SPARK_GRAFT_CPUS`,
    * default the machine's cores capped at 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Double = Profile.timeQuery(spark, sfDir, name)

    var failed = false
    // untimed warm-up pass: JIT, codegen compile, file listing, shuffle
    // infra — failures surface in the timed loop below, not here
    headline.foreach(name => try runOnce(name) catch { case _: Throwable => () })
    val firstPass = headline.map { name =>
      val secs =
        try Seq(runOnce(name), runOnce(name), runOnce(name)).min
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed = true
            -1.0
        }
      name -> secs
    }
    // budgets are wall-clock numbers from the round driver's machine;
    // SPARK_GRAFT_BENCH_BUDGETS=off keeps the timings but drops the gate
    // when running on different hardware
    val budgetsOn = !sys.env.get("SPARK_GRAFT_BENCH_BUDGETS").exists(_.equalsIgnoreCase("off"))
    // Contention normalization: the run-wide MEDIAN of secs/budget
    // ([[budgetFactor]]) is a contention estimate no single query can
    // drag (a real regression moves one ratio, not the median); budgets
    // scale by it when it exceeds 1, clamped at 3× so a uniform genuine
    // slowdown (an engine-wide regression) still breaches. Emitted in
    // the JSON so a scaled gate is visible, not silent.
    // Breach retries ([[resolveBreaches]]): round 0 re-measures any
    // budget OR pinned-2x breach once the rest of the suite has run
    // (a contention burst has usually moved on by then; a regression
    // repeats); round 1 — the r14 hardening — imposes RetrySpacingMs of
    // idle and re-measures whatever STILL breaches (BENCH_r14's q_chi2
    // burst outlived the immediate retry; it would not outlive an
    // imposed idle gap). Minima are kept throughout, so retries can only
    // improve a query's reported time. The FIRST-PASS factors govern
    // retry decisions AND the final verdict: recomputing them from
    // post-retry results could only shrink the thresholds (retries only
    // lower times), flagging a query that never got a retry.
    val (results, runFactor, runPinFactor) =
      if (!budgetsOn) (firstPass, budgetFactor(firstPass), pinFactor(firstPass))
      else resolveBreaches(firstPass,
        name => math.min(runOnce(name), runOnce(name)),
        round => {
          System.err.println(s"[bench] breach retry round $round: idling " +
            s"${RetrySpacingMs / 1000}s so a machine-wide burst can move on")
          Thread.sleep(RetrySpacingMs)
        })
    val breaches = if (!budgetsOn) Nil else results.collect {
      case (name, secs) if budgetOver(name, secs, runFactor) =>
        f"$name ${secs}%.2f>${budgetSecs(name) * runFactor}%.2f"
    }
    val blBreaches = if (!budgetsOn) Nil else baselineBreaches(results, runPinFactor)
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // ratio vs the pinned baseline over the queries both runs cover
    val shared = results.filter { case (k, v) => v >= 0 && baselineSecs.contains(k) }
    val vsBaseline =
      if (shared.isEmpty) -1.0
      else shared.map(_._2).sum / shared.map(r => baselineSecs(r._1)).sum
    // per-query ratios (side file): the r9 lesson is that an
    // aggregate can absorb a 2x outlier — the per-query view cannot
    val ratioJson = perQueryRatios(results)
      .map { case (k, r) => "\"" + k + "\":" + num3(r) }.mkString("{", ",", "}")
    // soft pin-rot report (never gates — see the pinnedSecs policy
    // note): current drifters + the subset also over threshold in the
    // previous committed round's BENCH json
    val (drifting, persistent) = pinDriftReport(results, runPinFactor, priorRatios())
    val driftJson = drifting
      .map { case (k, r) => "\"" + k + "\":" + num3(r) }.mkString("{", ",", "}")
    val persistentJson = persistent.map("\"" + _ + "\"").mkString("[", ",", "]")
    val scalars =
      s""""vs_baseline":${num3(vsBaseline)},"run_factor":${num3(runFactor)},""" +
      s""""pin_factor":${num3(runPinFactor)},"n_pin_drift":${drifting.size},""" +
      s""""pin_drift_persistent":$persistentJson,"sf":"$sfDir""""
    // best-effort like writePriorRatios: a read-only checkout still gets
    // the metric line and the exit code
    scala.util.Try(java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
        s""""vs_baseline_queries":$ratioJson,"pin_drift":$driftJson,""" +
        s"$scalars}\n").getBytes("UTF-8")))
    println(stdoutLine(total, vsBaseline, runFactor, runPinFactor, drifting.size,
      persistent.size, sfDir))
    persistent.foreach(q => System.err.println(s"[bench] PIN DRIFT (2 rounds): $q — " +
      "fix the regression or re-base the pin with evidence (Bench.pinnedSecs policy)"))
    // persist the normalized DRIFT SET, not raw ratios: a round run
    // under uniform contention (or short-pin jitter the floor absorbs)
    // must not read as drift in the next round's persistence check
    if (persistsPriorRatios(cpus)) writePriorRatios(drifting)
    breaches.foreach(b => System.err.println(s"[bench] BUDGET BREACH: $b " +
      "(budgets are wall-clock numbers from the round driver's machine; " +
      "set SPARK_GRAFT_BENCH_BUDGETS=off on other hardware)"))
    blBreaches.foreach(b => System.err.println(s"[bench] BASELINE BREACH: $b " +
      "(per-query 2x gate over the pinned shared set; " +
      "set SPARK_GRAFT_BENCH_BUDGETS=off on other hardware)"))
    spark.stop()
    if (failed || breaches.nonEmpty || blBreaches.nonEmpty) sys.exit(1)
  }
}
