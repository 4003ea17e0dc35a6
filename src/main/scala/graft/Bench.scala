package graft

/** Benchmark main: times every `SparkEntry.queries` key at the given scale
  * factor and prints ONE JSON line the driver grades against BASELINE.md.
  *
  * OUTPUT CONTRACT — the grading driver keeps only the LAST ~2000 chars of
  * stdout (r4's artifact proved it: the line grew past the window and the
  * tail begins mid-number, losing the metric/total header). So the final
  * line must stay comfortably under that window even after sbt appends its
  * own `[success] Total time: …` trailer (~75 chars):
  *   - per-key seconds render in at most 3 chars (1 dp below 10 s, whole
  *     seconds above, saturated at "999" — resolution always below
  *     run-to-run noise on this host; the total keeps 3 dp),
  *   - per-rep raw times, per-key errors, un-hinted keys and the protocol
  *     string go on SEPARATE diagnostics lines printed BEFORE the final
  *     line (earlier stdout is what the tail window drops first, so the
  *     graded line always survives intact; `default_hint_keys` sits LAST
  *     on its line so it stays visible in the tail remnant),
  *   - `renderLine` SELF-BUDGETS against `MaxGradedLen`, shedding the
  *     redundant sf field, then total precision, then — the guaranteed
  *     floor — the CHEAPEST per-key entries (`"omitted":N`), so the line
  *     fits at ANY registry size; `BenchSpec` pins the ladder's behavior
  *     for the current key set. At ≥95 keys a HEALTHY line already sheds
  *     sf (and past ~97 keys a few sub-second entries — their full times
  *     stay on the diagnostics lines); the driver records sf in its own
  *     artifact AND the diagnostics line carries the full dir, so the
  *     graded chars go to the per-key values that carry information.
  *
  * Measurement protocol (BASELINE.md is recorded under the SAME protocol —
  * the two sides of the comparison must move together; any edit to the
  * rep count, pass structure, or rest discipline REQUIRES re-recording
  * BASELINE.md before the next graded run):
  *
  *  1. STARTUP REST (`SPARK_GRAFT_REST_SEC`, default 60s, 0 disables): the
  *     harness host throttles sustained CPU (burst-then-baseline; identical
  *     code has benched 10× apart), and the graded bench often runs minutes
  *     after a full Verify pass on an already-hot CPU — r3's recorded total
  *     was 2.3× its own steady-state purely from this. An idle minute
  *     before the timed loop lets the host's budget refill. Wall-clock
  *     only; reported times never include rests.
  *  2. SYMMETRIC MEDIAN-OF-N (`SPARK_GRAFT_REPS`, default 3): every key
  *     runs N times and reports its per-key MEDIAN. This replaced round
  *     5's asymmetric best-of-up-to-3 anomaly retry, which was biased low
  *     relative to any single-run measurement (min-of-reruns, applied only
  *     to slow first runs); the median is order-statistics-symmetric, so
  *     the graded numbers carry no selection bias in either direction.
  *     Every rep's raw time is published on a per-rep diagnostics line.
  *  3. PASS STRUCTURE: reps run as N FULL PASSES over the key set (all
  *     keys once, then again), not N back-to-back runs per key. A host
  *     throttle clamp lasts minutes; back-to-back reps would land all N
  *     samples of a few keys inside it (corrupting their medians), while
  *     a pass structure spreads the clamp across ONE rep of many keys —
  *     each key's other reps stay clean and the median rejects the spike.
  *     Pass 1 doubles as the JIT warm-up; it is a full voting rep (its
  *     cold-code inflation affects a handful of op-specific keys, and for
  *     those the median of {cold, steady, steady} is steady).
  *  4. CHEAPEST-FIRST ORDER within each pass, from the recorded
  *     steady-state cost table: cold-JIT warm-up lands on the ~45
  *     sub-second keys (scans, joins, aggs, windows warm the common
  *     machinery for pennies) instead of inflating a 5s ML fit to 30s.
  *
  * COST HINTS come from the RECORDED BASELINE ARTIFACT `bench_hints.json`
  * (per-key medians of the baseline pair, re-recorded whenever BASELINE.md
  * is), not an in-source literal: the ordering data and the baseline move
  * together by construction, and a key missing from the artifact — a
  * rename, or a new operator benched before re-recording — is visible
  * three ways: it runs mid-pack on the default hint, it is listed under
  * `default_hint_keys` at the TAIL END of the diagnostics line, and
  * `BenchSpec` fails if the artifact doesn't cover the registry. Hints
  * order the passes; they are never reported.
  */
object Bench {

  /** Recorded steady-state seconds per key at sf0.1, local[32], loaded
    * from the baseline artifact (see class doc). Empty map if the
    * artifact is missing — every key then runs on the default hint and is
    * reported in `default_hint_keys`.
    */
  private[graft] lazy val costHint: Map[String, Double] = loadHints()

  /** Artifact path: repo-root relative (the driver and dev flows both run
    * sbt from the repo), overridable for tests via SPARK_GRAFT_HINTS.
    */
  private[graft] def hintsPath: String =
    sys.env.getOrElse("SPARK_GRAFT_HINTS", "bench_hints.json")

  /** Parse the flat `{"key": seconds, …}` artifact. No JSON library on
    * the classpath — a two-token regex over `"name": number` pairs is
    * exact for this grammar (keys are `[a-z0-9_]+`, values plain
    * decimals; BenchSpec round-trips it).
    */
  private[graft] def loadHints(path: String = hintsPath): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val entry = """"([a-z0-9_]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
      entry.findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  /** Keys that failed in EVERY rep — the graded line's `failed` count. */
  private[graft] def failedKeys(ordered: Seq[String],
      okByRep: Seq[Map[String, Boolean]]): Seq[String] =
    ordered.filter(k => okByRep.forall(!_(k)))

  /** Keys that failed in SOME but not all reps: they report the median of
    * their successful reps and contribute nothing to `failed`, so without
    * this field instability would be visible only on the first-dropped
    * per-rep lines — effectively invisible in the driver's tail window.
    */
  private[graft] def flakyKeys(ordered: Seq[String],
      okByRep: Seq[Map[String, Boolean]]): Seq[String] =
    ordered.filter(k => okByRep.exists(!_(k)) && okByRep.exists(_(k)))

  /** Per-key median over the successful reps (all reps when none
    * succeeded — a failed key's real elapsed cost must stay visible in
    * the total, not vanish into a fast-fail zero).
    */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Render one per-key map entry at centisecond resolution (10 ms — an
    * order of magnitude below run-to-run noise on this host). Used on the
    * diagnostics lines, where length is not graded.
    */
  private def entry2(k: String, v: Double): String =
    "\"" + k + "\":" + BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)

  /** Graded-line value rendering: at most 3 chars per value BY
    * CONSTRUCTION (1 dp below 10 s, whole seconds above — "9.9", "67",
    * "888"; anything that would round to ≥ 1000 saturates to "999", and a
    * saturated value is already >11× the slowest steady-state key, so its
    * exact magnitude carries no grading information the diagnostics
    * lines' full-precision times don't). Per-key resolution of 0.1 s/1 s
    * is below this host's run-to-run noise at the respective magnitudes;
    * the graded TOTAL keeps 3 dp.
    */
  private[graft] def fmtGraded(v: Double): String = {
    import BigDecimal.RoundingMode.HALF_UP
    if (v >= 999.5) "999"
    else if (v < 9.95) BigDecimal(v).setScale(1, HALF_UP).toString
    else BigDecimal(v).setScale(0, HALF_UP).toString
  }

  /** Hard ceiling for the graded line: the driver's 2000-char stdout tail
    * minus sbt's `[success] Total time: …` trailer plus margin. The r8
    * artifact calibrated this the hard way: a 1939-char line lost its
    * first 13 chars to a 73-char trailer, so the true budget is
    * 2000 − trailer − newlines, and the trailer itself varies (4-digit
    * second counts, month-name width) up to ~80 chars — 1880 leaves a
    * ~40-char cushion for any sbt trailer this host can print.
    */
  private[graft] val MaxGradedLen = 1880

  /** The graded final line. Compact by contract (see the class doc):
    * ≤3-char values, no per-key diagnostics. Package-private so BenchSpec
    * can pin its length under the driver's tail window for the current key
    * set.
    */
  private[graft] def renderLine(total: Double, results: Seq[(String, Double)],
      failed: Int, sfDir: String): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmtGraded(v) }
      .mkString("{", ",", "}")
    // sf renders as its basename ("sf0.1") — the full dir is on the
    // diagnostics line; the graded line spends its chars on per-key values
    val sf = new java.io.File(sfDir).getName
    // "failed" appears only when nonzero (the slimming lever applied when
    // the registry crossed 92 keys): an absent field reads as 0 failures,
    // and a FAILING run — where the field matters — spends the chars
    val failedField = if (failed == 0) "" else s""","failed":$failed"""
    def render(withSf: Boolean, totalDp: Int, perKey: String = qs,
        omitted: Int = 0) = {
      val t = BigDecimal(total).setScale(totalDp, BigDecimal.RoundingMode.HALF_UP)
      val sfField = if (withSf) s""","sf":"$sf"""" else ""
      val omittedField = if (omitted == 0) "" else s""","omitted":$omitted"""
      s"""{"metric":"total","value":$t,"unit":"sec","queries":$perKey$omittedField$failedField$sfField}"""
    }
    // SELF-BUDGETING degradation ladder: the line measures itself against
    // the window and sheds redundancy before precision before coverage —
    // (1) the sf field (the driver records sf in its own artifact AND the
    // diagnostics line carries the full dir), (2) total precision (3 dp →
    // 1 dp matters only at catastrophic magnitudes), (3) drop the
    // CHEAPEST keys from the per-key map, declaring the count as
    // "omitted":N. Step 3 is the GUARANTEED floor the pre-r9 ladder
    // lacked: its old last step only tightened already-saturated values,
    // so a HEALTHY 96-key line (nothing to saturate) shipped at 1939
    // chars and truncated in the r8 artifact (`"parsed": null`). Dropping
    // keys always converges (the empty map fits any window the header
    // fits), sheds the lowest-information entries first (a 0.2s scan's
    // graded value carries nothing BASELINE.md's hints don't), keeps the
    // TOTAL over every key, and every dropped key's full-precision time
    // still rides the per-rep diagnostics lines.
    val full = render(withSf = true, totalDp = 3)
    if (full.length <= MaxGradedLen) full
    else {
      val noSf = render(withSf = false, totalDp = 3)
      if (noSf.length <= MaxGradedLen) noSf
      else {
        val tight = render(withSf = false, totalDp = 1)
        if (tight.length <= MaxGradedLen) tight
        else {
          // drop cheapest-first (ties by name for determinism); linear
          // walk is fine at registry scale and runs once per bench
          val byCost = results.sortBy { case (k, v) => (v, k) }
          Iterator.range(1, results.size + 1).map { nDrop =>
            val dropped = byCost.take(nDrop).map(_._1).toSet
            val kept = results.filterNot { case (k, _) => dropped(k) }
            val qsKept = kept.map { case (k, v) =>
              "\"" + k + "\":" + fmtGraded(v)
            }.mkString("{", ",", "}")
            render(withSf = false, totalDp = 1, perKey = qsKept,
              omitted = nDrop)
          }.find(_.length <= MaxGradedLen)
            // unreachable while the header alone fits the window; the
            // last candidate (every key dropped) is the degenerate floor
            // and still declares what it dropped
            .getOrElse(render(withSf = false, totalDp = 1, perKey = "{}",
              omitted = results.size))
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val restSec = sys.env.getOrElse("SPARK_GRAFT_REST_SEC", "60").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val spark = Session.builder(cpus).getOrCreate()
    // ERROR, not WARN (r19 verdict #1b): the driver grades the LAST
    // ~2000 chars of stdout, and benign per-execution WARNs (WindowExec
    // on the pinned ≤256-row global frames, CacheManager) flooded the
    // r19 tail past the graded line — the artifact recorded rc 124 with
    // nothing but WARN spam in the window. Real failures still surface:
    // per-key errors are CAUGHT and published in the "errors" field.
    spark.sparkContext.setLogLevel("ERROR")
    if (restSec > 0) Thread.sleep(restSec * 1000L)
    import JsonFormat.q
    // Execute via queryExecution.toRdd.count(), NOT Dataset.count(): a
    // count() on top lets Catalyst prune every projected expression and
    // drop the final sort, so projection-only queries would be timed as
    // parquet-footer row counts. toRdd runs the exact physical plan —
    // every expression, every sort — without collecting rows to the driver.
    // A failed query must be VISIBLE, not a fast success: its real elapsed
    // time still counts toward the total and its error lands in "errors"
    // (JsonFormat.q escapes control chars so the line stays parseable).
    def timeOnce(name: String): (Double, Option[String]) = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).queryExecution.toRdd.count(); None }
        catch {
          case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // cache contract: operators may persist() intermediates their
      // returned plan reads; the CALLER releases them once the output is
      // consumed. Without this, a full-registry session accumulates every
      // LSH/banded/ML cache in executor storage for its whole lifetime.
      spark.catalog.clearCache()
      (elapsed, err)
    }
    val ordered = SparkEntry.queries.keys.toSeq
      .sortBy(k => (costHint.getOrElse(k, 1.0), k))
    val defaultHintKeys = ordered.filterNot(costHint.contains)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // N full cheapest-first passes (see class doc №3); every sample kept
    val samples = Seq.fill(reps) {
      ordered.map { name =>
        val (t, err) = timeOnce(name)
        err.foreach(e => errors(name) = e)
        name -> (t, err.isEmpty)
      }.toMap
    }
    // one diagnostics line per pass: full-precision raw times, dropped
    // from the tail window first (oldest first)
    samples.zipWithIndex.foreach { case (pass, i) =>
      val m = ordered.map(k => entry2(k, pass(k)._1)).mkString("{", ",", "}")
      println(s"""{"diag":"bench_rep","rep":${i + 1},"times":$m}""")
    }
    val results = ordered.map { name =>
      val ok = samples.map(_(name)).filter(_._2).map(_._1)
      val all = samples.map(_(name)._1)
      name -> median(if (ok.nonEmpty) ok else all)
    }
    val okByRep = samples.map(_.view.mapValues(_._2).toMap)
    val failed = failedKeys(ordered, okByRep)
    val flaky = flakyKeys(ordered, okByRep)
    val total = results.map(_._2).sum
    val errs = errors.map { case (k, v) => q(k) + ":" + q(v) }
      .mkString("{", ",", "}")
    val dh = defaultHintKeys.map(q).mkString("[", ",", "]")
    val fl = flaky.map(q).mkString("[", ",", "]")
    // flaky + default_hint_keys LAST: the tail window truncates this line
    // from the LEFT, so the instability/staleness signals are what survive
    // next to the graded line
    println(s"""{"diag":"bench","errors":$errs,"protocol":"rest${restSec}s,${reps}-pass-median,cheapest-first","sf":"$sfDir","flaky":$fl,"default_hint_keys":$dh}""")
    println(renderLine(total, results, failed.size, sfDir))
    spark.stop()
  }
}
