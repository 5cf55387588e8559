package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** EMPIRICAL SCALING-EXPONENT AUDIT — the one scale claim the plan
  * lints cannot make by inspection, made by measurement: run a query
  * at three scale factors a decade apart (sf0.001 / sf0.01 / sf0.1)
  * and fit the growth exponent of its WORK. A plan that LOOKS bounded
  * (every window bucketed, every join banded) but hides a quadratic
  * candidate hunt shows up here as exponent → 2 long before 100 TB
  * does; a linear pipeline reads ≈ 1; the iterative loops (CC, LPA,
  * k-core — O(log n) rounds of linear work) read log-linear, a shade
  * above 1.
  *
  * ## The metric: total task time, not wall time
  *
  * Wall time is the wrong signal for growth fitting on a parallel
  * engine, twice over: added work hides behind added parallelism
  * exactly when the data grows (a query that uses 3 of 32 cores at
  * sf0.001 and 30 at sf0.1 shows a 10× wall growth for a 100× work
  * growth — UNDERSTATING the exponent a safety audit exists to
  * catch), and at tiny scale factors the per-query data term drowns
  * under fixed session overhead and host noise (measured: 27 of 32
  * risk-list queries had wall-time first differences below any
  * defensible noise floor). Total task `executorRunTime`
  * ([[org.apache.spark.GraftMetricsBridge]]) is parallelism-
  * independent, decade-over-decade comparable, and its data term is
  * core-count times larger than wall's. Wall times are still measured
  * and reported — they answer "how long", the exponent answers "how
  * does it grow".
  *
  * ## The fit
  *
  * Model the work as `t(n) = c + a·n^e`: a fixed term `c` (per-task
  * dispatch over the constant 32-partition layout, plan/codegen —
  * at tiny SF this dominates and biases any raw log-log slope toward
  * zero) plus the data term. With measurements a decade apart the
  * fixed term CANCELS in first differences, and the exponent solves
  * exactly:
  *
  *   t(10n)  − t(n)   = a·n^e·(10^e − 1)
  *   t(100n) − t(10n) = a·n^e·10^e·(10^e − 1)
  *   ⇒ e = log10( (t(100n) − t(10n)) / (t(10n) − t(n)) )
  *
  * No fit when either difference sits below the noise floor — the
  * query is all-overhead at these scales, and a ratio of two noise
  * values would report garbage. Those queries are reported unfit
  * (exponent None) with their measurements, not silently dropped.
  *
  * Findings are advisory (same contract as [[PlanAudit]]): a
  * documented super-linear design (q23_semdedup's Σ|c|² ≈ n^1.5
  * cluster bound) goes on the caller's bound overrides with the
  * reason, and the sweep enforces the OVERRIDDEN bound instead. */
object ScalingAudit {

  /** One measured scale point: wall-clock minimum and total-task-time
    * ("work") minimum of the runs at `dir`, plus the work samples'
    * REPRODUCTION ratio — second-smallest / smallest — the per-point
    * uncertainty of the MIN estimator a reader needs to judge fit
    * confidence without re-running. The min is the steady-state
    * estimator; its uncertainty is whether the bottom REPRODUCED (the
    * two smallest agree ⇒ both clean), not
    * how high the worst sample spiked — one host-noise outlier among
    * several clean samples must not poison the floor (observed:
    * q22_dedup_contain@heaps refused its fit from a single 2.2×
    * sample among five whose other four agreed within 15%). With two
    * samples the two definitions coincide (max/min). */
  case class Point(dir: String, wallSec: Double, workSec: Double,
      workSpread: Double = 1.0)

  /** A query's measured scaling shape across directories (smallest SF
    * first) and the exponent fitted on the WORK metric (None =
    * all-overhead at these scales). */
  case class ScalingFit(name: String, points: Seq[Point],
      exponent: Option[Double])

  val SuperlinearScaling = "superlinear-scaling"

  /** ADVISORY finding kind: the WORK exponent sits above its bound,
    * but the query's materialized ROW volume grows linearly — the
    * excess is a constant-regime step, not algorithmic growth. Two
    * mechanisms produce it on a fixed-resource ladder, and neither
    * survives a 100 TB deployment's own scaling:
    *
    *   - plan regime flips: the planner broadcasts a side while it
    *     fits and shuffles past the threshold — correct at every
    *     scale, but the one-time flip cost lands inside the fitted
    *     decade (q41b_lpa's per-iteration label join);
    *   - per-task working-set steps: the ladder holds 32 partitions
    *     at every rung, so a rung ×100 bigger packs ×100 the hash/
    *     sort state into each task and the LLC→DRAM transition (plus
    *     sort-fallback log factors) inflates per-row cost a bounded
    *     2–5× ONCE — production sizes partitions to hold per-task
    *     bytes roughly constant instead.
    *
    * Materialized candidate/pair blowups CANNOT hide here: they are
    * rows (that is what makes them expensive), so their row exponent
    * reads ≈ 2 and the finding stays FATAL. But a COMPUTE-bound
    * quadratic can have linear rows (a per-group O(n_g²) kernel with
    * growing groups, a repeated in-task rescan that never crosses an
    * exchange) — which is why linear rows alone are NOT sufficient
    * evidence. The rule: work over bound is downgraded to this
    * advisory kind iff
    *
    *   1. the row exponent fits ≤ [[RowBound]],
    *   2. the work excess stays within [[RegimeMargin]] AND the
    *      absolute exponent sits under [[AbsoluteCap]] (near-2 fits
    *      are never waved through on row evidence alone), and
    *   3. a MECHANISM CONTROL confirms it ([[controlSupports]]) — one
    *      re-fit per hypothesized mechanism, each holding that
    *      mechanism's variable constant across the ladder the way a
    *      production deployment would:
    *        - the SCALED-PARTITIONS control (shuffle partitions up,
    *          per-task bytes held roughly constant) catches the
    *          working-set step;
    *        - the NO-BROADCAST control (autoBroadcastJoinThreshold
    *          −1, join strategy held at the shuffle regime on every
    *          rung — where 100 TB lives anyway) catches the planner
    *          flip, which partition scaling cannot see (measured:
    *          q11c fitted 1.66 with the flip inside the decade —
    *          BroadcastHashJoin at r2, SortMergeJoin at r3 — and
    *          0.61 with the strategy held; its candidate mass counts
    *          exactly linear).
    *      A control supports when its exponent drops by at least
    *      [[ControlDrop]], lands under the bound, or verifiably
    *      flattens below the noise floor; algorithmic growth,
    *      including the compute-bound quadratics rows cannot see,
    *      survives every control. The confirming measurement rides
    *      in the artifact (`exponent_scaled_partitions` /
    *      `exponent_no_broadcast`), so the advisory carries its own
    *      refutation of the algorithmic-growth hypothesis instead of
    *      a prose claim. */
  val RegimeDrift = "constant-regime-drift"

  /** Row-growth exponent above which over-bound work is algorithmic,
    * not regime drift (log-linear loops fit ≈ 1.0–1.2 in rows; banded
    * candidate generation a shade higher — quadratic blowups read 2). */
  val RowBound = 1.35

  /** How far work may exceed its bound and still be regime-classified
    * when rows are linear (the measured flip/cache steps cost ≤ 0.35
    * of exponent on this ladder; 0.5 leaves headroom — the absolute
    * cap and the scaled-partitions control own the near-quadratic
    * end this margin alone would admit). */
  val RegimeMargin = 0.5

  /** Hard ceiling on any regime downgrade: a fit at or above
    * effectively-quadratic stays FATAL whatever the row and control
    * evidence say — at that magnitude the honest responses are a
    * documented per-query bound with its mechanism, or a fix. */
  val AbsoluteCap = 1.9

  /** The minimum exponent drop the scaled-partitions control must
    * show to confirm the per-task working-set mechanism (the measured
    * drop on this ladder's flagged queries is 0.1–0.2). */
  val ControlDrop = 0.1

  /** Does the scaled-partitions control run CONFIRM the constant-
    * regime mechanism? Yes when the control measured every rung and
    * EITHER its exponent dropped by ≥ `drop`, OR it landed at or
    * under the query's own `bound` (the strongest possible evidence:
    * at production partition sizing the plan measurably meets its
    * bound — a marginal 1.62-vs-1.60 fit whose control reads 1.54
    * must not flake the gate on a 0.08 drop), or it lost the fit
    * entirely BECAUSE it flattened — `flattened` = the caller checked
    * ([[flattened]]) that every first difference genuinely sits below
    * the absolute/relative noise floor. An unfit control whose fit
    * was refused for any OTHER reason (its own samples' scatter
    * tripping the spread floor, a degenerate size axis) is NOISY
    * evidence, not flattening — counting it as support would let a
    * contended control run launder a fatal over-bound finding into an
    * advisory. A control that failed to measure, refused its fit
    * without flattening, or whose exponent held OVER the bound
    * without the minimum drop, refutes the regime hypothesis — the
    * over-bound finding stays FATAL. */
  def controlSupports(workExponent: Double, controlPoints: Int,
      controlExponent: Option[Double], nDirs: Int,
      drop: Double = ControlDrop,
      bound: Double = Double.NegativeInfinity,
      flattened: Boolean = false): Boolean =
    controlPoints >= nDirs &&
      controlExponent.map(c =>
        c <= workExponent - drop || c <= bound).getOrElse(flattened)

  /** Did an unfit run genuinely FLATTEN — every first difference below
    * the absolute/relative noise floor ALONE (the spread term
    * excluded)? This is the refusal cause [[controlSupports]] may read
    * as "sank below the noise floor": the data term measurably
    * vanished. A fit refused only by its endpoints' sample scatter
    * ([[spreadFloor]]) or by a degenerate/unequal size axis returns
    * false — those are measurement-quality refusals and carry no
    * evidence about the growth shape. */
  def flattened(times: Seq[Double], sizes: Seq[Long],
      noiseFloorSec: Double = 0.1, relFloor: Double = 0.05): Boolean = {
    if (times.size < 3) return false
    if (sizes.nonEmpty) { // the size axis must be two near-equal steps
      if (sizes.size != times.size) return false
      val n = sizes.map(_.toDouble)
      if (!(n(0) < n(1) && n(1) < n(2))) return false
      val r1 = math.log(n(1) / n(0))
      val r2 = math.log(n(2) / n(1))
      if (math.abs(r1 - r2) > 0.02 * math.max(r1, r2)) return false
    }
    val base = math.max(noiseFloorSec, relFloor * times(0))
    (times(1) - times(0)) < base && (times(2) - times(1)) < base
  }

  /** A query that could not be measured at every scale directory —
    * every run at some directory failed. Reported as its own finding
    * kind so a gate run (`ScalingSweep --check`) FAILS on it: a query
    * that stopped running entirely must not read as "unfit, no drift"
    * (exponent None looks identical to a benign all-overhead query
    * otherwise). */
  val MeasurementFailure = "scaling-measurement-failure"

  /** Fold fits to measurement-failure findings: any fit with fewer
    * measured points than `nDirs` directories. */
  def auditMeasurementFailures(fits: Seq[ScalingFit], nDirs: Int)
      : Seq[PlanAudit.Finding] =
    fits.collect {
      case f if f.points.size < nDirs =>
        PlanAudit.Finding(MeasurementFailure,
          s"${f.name}: only ${f.points.size}/$nDirs scale points " +
            "measured — every run failed at " +
            "some directory (see [scaling] stderr lines)",
          subject = f.name)
    }

  /** Fit `e` from three work measurements a decade apart. None when
    * either first difference is below the noise floor — the data term
    * is too small at these scales to carry signal. The floor is the
    * largest of an absolute term (`noiseFloorSec` — sampling jitter on
    * small totals), a RELATIVE term (`relFloor` × the smallest
    * measurement: a query with an 18s fixed kernel cost jitters by
    * ~3% between min-of-2 samples, so a 0.5s first difference on that
    * base is noise wearing a trend — observed: q22_dedup_keep_best
    * "fit" 1.74 from exactly that, d1 = 0.53s on 18.1s), and a
    * SPREAD term per difference (see [[spreadFloor]]): a difference
    * smaller than its own endpoints' measured sample scatter is two
    * noise values subtracted, whatever the other floors say —
    * observed: q41_pagerank "fit" 2.10 from d1 = 0.107s between two
    * points whose own samples scattered 1.9–2.1× (the credible fit
    * on tighter samples reads ~1.6 with linear rows). */
  def fitExponent(tSmall: Double, tMid: Double, tLarge: Double,
      noiseFloorSec: Double = 0.1, relFloor: Double = 0.05,
      spreads: Seq[Double] = Nil): Option[Double] = {
    val base = math.max(noiseFloorSec, relFloor * tSmall)
    val ts = Seq(tSmall, tMid, tLarge)
    val d1 = tMid - tSmall
    val d2 = tLarge - tMid
    if (d1 < math.max(base, spreadFloor(ts, spreads, 0)) ||
        d2 < math.max(base, spreadFloor(ts, spreads, 1))) None
    else Some(math.log10(d2 / d1))
  }

  /** Noise floor for difference `i` (t(i+1) − t(i)) from the two
    * endpoints' measured sample spread: half the larger endpoint
    * scatter, (spread − 1) × t being the reproduction gap of that
    * point's two smallest samples (see [[Point]]). The min is the
    * steady-state estimator, but when a point's bottom two samples
    * disagree 2×, its min is uncertain by a comparable magnitude — a
    * difference that does not clearly exceed that uncertainty is not
    * evidence of growth. Empty spreads (legacy callers,
    * single-sample runs) contribute nothing. */
  def spreadFloor(ts: Seq[Double], spreads: Seq[Double], i: Int): Double =
    if (spreads.size < ts.size) 0.0
    else 0.5 * math.max(
      (spreads(i) - 1.0) * ts(i), (spreads(i + 1) - 1.0) * ts(i + 1))

  /** [[fitExponent]] with MEASURED input sizes instead of the assumed
    * 10×-per-directory: the closed form generalizes to any equal
    * ratio r (e = ln(d2/d1) / ln r), and the fit REFUSES when the
    * points do not span two near-equal growth steps — the honesty
    * this exists for: the fixture's `documents` table is 500 rows at
    * BOTH sf0.001 and sf0.01 (embeddings 500/500/2000), so for every
    * document/embedding query the first "decade" is literally
    * identical input and d1 is pure run noise; fitting it produced
    * confidently wrong exponents (the committed table briefly carried
    * semdedup "0.51" and ngram "0.69" that were noise ratios, not
    * growth). Unequal non-degenerate steps would need a numeric solve
    * (c no longer cancels); no fixture here has them, so they refuse
    * too rather than approximate. */
  def fitSized(times: Seq[Double], sizes: Seq[Long],
      noiseFloorSec: Double = 0.1, relFloor: Double = 0.05,
      spreads: Seq[Double] = Nil): Option[Double] = {
    if (times.size < 3 || sizes.size != times.size) return None
    val n = sizes.map(_.toDouble)
    if (!(n(0) < n(1) && n(1) < n(2))) return None
    val r1 = math.log(n(1) / n(0))
    val r2 = math.log(n(2) / n(1))
    if (math.abs(r1 - r2) > 0.02 * math.max(r1, r2)) return None
    val base = math.max(noiseFloorSec, relFloor * times(0))
    val d1 = times(1) - times(0)
    val d2 = times(2) - times(1)
    if (d1 < math.max(base, spreadFloor(times, spreads, 0)) ||
        d2 < math.max(base, spreadFloor(times, spreads, 1))) None
    else Some(math.log(d2 / d1) / r1)
  }

  /** Millisecond quantization of every measured Point value: the
    * committed table writes 3 decimals, and ScalingTableSpec's refit
    * backstop re-derives the exponent FROM those written values — a
    * fit computed from full-precision samples but recorded rounded
    * could flip fit→refuse (or drift past the refit tolerance) right
    * at a floor boundary purely from rounding. Quantizing at the
    * measurement boundary makes the fit's inputs and the artifact's
    * values the same numbers, so the round trip is exact. 1 ms is
    * 100× under the 0.1 s absolute noise floor — nothing real is
    * lost. */
  private def quant(v: Double): Double = math.rint(v * 1000) / 1000

  /** Per-directory minima (wall and work) of `runs` fully-materialized
    * executions of `fn(spark, dir)`, smallest SF first. The noop sink
    * forces every operator (a count() would let Catalyst prune the
    * work being measured); a failed run contributes nothing. One
    * untimed warm-up at the LAST (largest) directory pre-compiles the
    * shared codegen with enough loop iterations to reach JIT steady
    * state before anything is billed — warming at the smallest was
    * observed to leave kernel-heavy queries (the dedup shingle family)
    * interpreted through their early timed points, measuring MORE work
    * at sf0.001 than sf0.01 (10s of task time on 50 documents) and
    * poisoning the fit's first difference. */
  def measure(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame,
      dirs: Seq[String], runs: Int = 2): Seq[Point] = {
    def once(dir: String): Option[(Double, Double)] = {
      val t0 = System.nanoTime()
      try {
        var ok = true
        val work = org.apache.spark.GraftMetricsBridge.taskTimeMs(
          spark.sparkContext) {
          try fn(spark, dir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            ok = false
            System.err.println(
              s"[scaling] run failed at $dir: ${e.getMessage}")
          }
        }
        if (ok) Some(((System.nanoTime() - t0) / 1e9, work / 1e3)) else None
      } finally graft.Harness.dropPinnedRdds(spark)
    }
    dirs.lastOption.foreach(once) // warm-up at the largest, untimed
    dirs.flatMap { dir =>
      val samples = (0 until math.max(1, runs)).flatMap(_ => once(dir))
      if (samples.isEmpty) None
      else {
        val work = samples.map(_._2).sorted
        // spread = reproduction ratio of the two smallest samples
        // (see [[Point]]) — max/min when only two samples exist.
        // All three values ms-quantized (see [[quant]]) so the fit
        // and the written artifact share identical inputs.
        Some(Point(dir, quant(samples.map(_._1).min), quant(work.head),
          quant(if (work.size >= 2 && work.head > 0) work(1) / work.head
          else 1.0)))
      }
    }
  }

  /** Measure + fit in one call. Requires ≥3 directories (a decade
    * apart for the exponent to read as documented). `sizes` = the
    * query's MEASURED per-directory input rows (primary table) —
    * when given, the fit goes through [[fitSized]] and refuses
    * degenerate scale steps; when empty, the directories are assumed
    * a decade apart. */
  def fit(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame,
      dirs: Seq[String], runs: Int = 2,
      noiseFloorSec: Double = 0.1, sizes: Seq[Long] = Nil): ScalingFit = {
    require(dirs.size >= 3,
      s"scaling fit needs 3 scale directories, got ${dirs.size}")
    val points = measure(spark, fn, dirs, runs)
    val work = points.map(_.workSec)
    val spreads = points.map(_.workSpread)
    val e =
      if (points.size < 3) None
      else if (sizes.nonEmpty)
        fitSized(work, sizes, noiseFloorSec, spreads = spreads)
      else fitExponent(work(0), work(1), work(2), noiseFloorSec,
        spreads = spreads)
    ScalingFit(name, points, e)
  }

  /** Fold two measurement runs of the SAME entry into one fit by
    * per-rung work MINIMUM (wall folds too; each rung keeps the spread
    * of the run that provided its min work), then refit under the
    * same floors. The sweep's strictly-last noise retry uses this to
    * fold in a re-measure taken minutes later: this host's noise
    * arrives in sustained multi-minute windows, so an entry whose
    * whole sampling window was noisy carries a stable-LOOKING wrong
    * minimum (within-run spread floors see reproduction, not truth —
    * observed: q41_pagerank's top rung measured 87.0/87.3/93.2 s of
    * work across three runs and 142.9 s with spread 1.08 inside one
    * window, reading a fatal 2.04 on untouched code). A later
    * re-measure minutes away folds a clean minimum in; a genuine
    * regression reproduces in both runs and keeps its number. A retry
    * that lost a rung folds nothing — partial evidence never replaces
    * a complete measurement. */
  def foldMin(a: ScalingFit, b: ScalingFit, sizes: Seq[Long],
      noiseFloorSec: Double = 0.1): ScalingFit = {
    if (b.points.size != a.points.size ||
        a.points.map(_.dir) != b.points.map(_.dir)) return a
    val pts = a.points.zip(b.points).map { case (p, q) =>
      val (w, s) =
        if (q.workSec < p.workSec) (q.workSec, q.workSpread)
        else (p.workSec, p.workSpread)
      Point(p.dir, math.min(p.wallSec, q.wallSec), w, s)
    }
    val work = pts.map(_.workSec)
    val spreads = pts.map(_.workSpread)
    val e =
      if (pts.size < 3) None
      else if (sizes.nonEmpty)
        fitSized(work, sizes, noiseFloorSec, spreads = spreads)
      else fitExponent(work(0), work(1), work(2), noiseFloorSec,
        spreads = spreads)
    ScalingFit(a.name, pts, e)
  }

  /** Fold fits to findings: every fitted exponent above its bound
    * (`bounds` override per query — documented super-linear designs —
    * else `defaultBound`). Unfit queries are never findings: no
    * signal, no claim. */
  def auditExponents(fits: Seq[ScalingFit], defaultBound: Double = 1.6,
      bounds: Map[String, Double] = Map.empty): Seq[PlanAudit.Finding] =
    fits.collect {
      case f if f.exponent.exists(_ > bounds.getOrElse(f.name, defaultBound)) =>
        PlanAudit.Finding(SuperlinearScaling,
          f"${f.name}: exponent ${f.exponent.get}%.2f > " +
            f"bound ${bounds.getOrElse(f.name, defaultBound)}%.2f " +
            s"(work ${f.points.map(p => f"${p.workSec}%.2fs")
              .mkString(" -> ")})",
          subject = f.name)
    }

  /** Total materialized row volume of one execution at each `dir` —
    * one untimed run per directory (rows are deterministic, so one
    * run is the measurement; a failed run contributes no point).
    *
    * The volume SUMS two views because each has a systematic blind
    * spot the other covers, and a growth fit only needs a complete
    * axis, not an unduplicated one (double-counting a stream is a
    * constant factor that cancels in the fit):
    *
    *   - task-level input + shuffle-write records (listener,
    *     [[org.apache.spark.GraftMetricsBridge]]): sees every JOB the
    *     query triggered — the eagerly-checkpointed loop iterations
    *     (CC/LPA/k-core) whose rows never reach the final DataFrame's
    *     plan, and the stages AQE ran before collapsing an
    *     empty-output query to EmptyRelation (both measured as
    *     real-world false "shrinking rows" before this);
    *   - final-plan `numOutputRows` ([[PlanProfile]]): sees the
    *     JOIN-INTERNAL streams that never cross an exchange — a
    *     bucketed all-pairs join emits its quadratic candidate stream
    *     as join output rows straight into a filter, with only
    *     survivors shuffled (q22_dedup_embed's n² would read linear
    *     on shuffle records alone). */
  def rowVolumes(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame,
      dirs: Seq[String]): Seq[Long] =
    dirs.flatMap { dir =>
      try {
        var planRows = 0L
        val totals = org.apache.spark.GraftMetricsBridge.taskTotals(
          spark.sparkContext) {
          planRows = PlanProfile.measure(fn(spark, dir))
            .flatMap(_.rows).sum
        }
        Some(totals.rows + planRows)
      } catch { case e: Throwable =>
        System.err.println(s"[scaling] rows run failed at $dir: " +
          e.getMessage)
        None
      } finally graft.Harness.dropPinnedRdds(spark)
    }

  /** Fit the ROW-growth exponent from [[rowVolumes]] measurements —
    * rows are exact, so the only floors are the valid-step checks and
    * a 1-row epsilon (a constant-output query must read unfit, not
    * divide by zero). */
  def fitRows(rows: Seq[Long], sizes: Seq[Long]): Option[Double] =
    fitSized(rows.map(_.toDouble), sizes,
      noiseFloorSec = 1.0, relFloor = 0.0)

  /** FATAL finding kind: a ROWS-BOUNDED entry's measured row-volume
    * exponent exceeds its recorded bound, or could not be fitted at
    * all. The entries whose WORK bounds are "definitional quadratic +
    * measured min-estimator scatter" (the widened 2.25–2.3 band) rest
    * their regression detection on the rows axis — rows are EXACT
    * (one deterministic run per rung: no sampling scatter, no
    * min-fold bias, no noise-window retries), so the rows bound is
    * the gate that cannot be ratcheted by host noise. An unfittable
    * rows axis on such an entry is itself fatal: "no signal" is a
    * property the exact rows metric only acquires when a rung failed
    * to run or the ladder degenerated — both must fail loudly, or
    * the backstop the wide work bounds lean on silently vanishes. */
  val RowsOverBound = "rows-over-bound"

  /** Fold measured row volumes against per-entry ROWS bounds into
    * fatal findings (see [[RowsOverBound]]): for every selected entry
    * carrying a rows bound — missing measurement, refused fit, or a
    * fitted rows exponent above the bound each yield a finding.
    * Pure (measurements in, findings out) so the failing-positive
    * path is unit-testable without a sweep. */
  def rowsBoundFindings(
      rows: Map[String, (Seq[Long], Option[Double])],
      rowsBounds: Map[String, Double],
      selected: Seq[String]): Seq[PlanAudit.Finding] =
    selected.filter(rowsBounds.contains).sorted.flatMap { name =>
      val bound = rowsBounds(name)
      rows.get(name) match {
        case None | Some((_, None)) =>
          Some(PlanAudit.Finding(RowsOverBound,
            f"$name: rows-bounded entry has no fitted rows exponent " +
              f"(bound $bound%.2f) — rows are exact, so a refusal " +
              "means a rung failed or the ladder degenerated; the " +
              "backstop its wide work bound leans on must not " +
              "silently vanish" +
              rows.get(name).map(r =>
                s" (measured rows ${r._1.mkString(" -> ")})")
                .getOrElse(""),
            subject = name))
        case Some((vols, Some(e))) if e > bound =>
          Some(PlanAudit.Finding(RowsOverBound,
            f"$name: rows exponent $e%.2f > rows bound $bound%.2f " +
              s"(rows ${vols.mkString(" -> ")}) — a materialized " +
              "candidate blowup past the documented definitional " +
              "growth",
            subject = name))
        case _ => None
      }
    }

  /** FATAL finding kind: a FLOOR-DOCUMENTED entry
    * ([[graft.ScalingSweep.floorBounds]] — wall flat under the
    * work-fit detection floor, exact rows linear) breached its
    * recorded disposition: a measured work point grew past the
    * documented work floor, the rows axis stopped fitting, or the
    * rows exponent exceeded its linearity bound. */
  val FloorBreach = "work-floor-breach"

  /** Fold floor-documented entries' measurements into fatal findings
    * (see [[FloorBreach]]). The disposition "honestly unfit — per-rung
    * work under the detection floor, rows exactly linear" is a
    * committed growth verdict, not a blank (r13 verdict item 4), and
    * it is only valid while BOTH halves hold: if a code change makes
    * the entry's work grow past the floor, the gate fails BY NAME
    * instead of the entry silently staying `exponent: null` — the
    * same can't-silently-rot principle as [[rowsBoundFindings]].
    * Pure (measurements in, findings out) so the failing-positive
    * path is unit-testable without a sweep. */
  def floorFindings(
      fits: Seq[ScalingFit],
      rows: Map[String, (Seq[Long], Option[Double])],
      floors: Map[String, (Double, Double)],
      selected: Seq[String]): Seq[PlanAudit.Finding] =
    selected.filter(floors.contains).sorted.flatMap { name =>
      val (workFloor, rowsBound) = floors(name)
      val workFinding = fits.find(_.name == name).toSeq
        .flatMap(_.points.map(_.workSec)).filter(_ > workFloor)
        .sorted.lastOption.map { w =>
          PlanAudit.Finding(FloorBreach,
            f"$name: measured work $w%.3f s over the documented work " +
              f"floor $workFloor%.2f s — the entry grew out of its " +
              "flat-wall regime; give it a real fit/bound (or " +
              "re-measure and raise the floor with a ledgered cause) " +
              "instead of keeping the floor disposition",
            subject = name)
        }
      val rowFinding = rows.get(name) match {
        case None | Some((_, None)) =>
          Some(PlanAudit.Finding(FloorBreach,
            f"$name: floor-documented entry has no fitted rows " +
              f"exponent (bound $rowsBound%.2f) — rows are exact; a " +
              "refusal means a failed rung or a degenerate ladder, " +
              "and the linear-rows half of the disposition must not " +
              "silently vanish",
            subject = name))
        case Some((vols, Some(e))) if e > rowsBound =>
          Some(PlanAudit.Finding(FloorBreach,
            f"$name: rows exponent $e%.2f > rows bound $rowsBound%.2f " +
              s"(rows ${vols.mkString(" -> ")}) — the linear-rows " +
              "half of the floor disposition no longer holds",
            subject = name))
        case _ => None
      }
      workFinding.toSeq ++ rowFinding
    }

  /** The regime rule's ROW half (see [[RegimeDrift]] — conditions 1
    * and 2): is an over-bound work exponent still FATAL given the
    * row-growth fit alone? Fatal when rows did not fit (no
    * exculpatory evidence), grew super-linearly themselves, the work
    * excess exceeds the regime margin, or the absolute exponent
    * reaches [[AbsoluteCap]]. Passing here only makes the query a
    * downgrade CANDIDATE — the scaled-partitions control
    * ([[controlSupports]], condition 3) has the final word. */
  def regimeFatal(workExponent: Double, bound: Double,
      rowExponent: Option[Double], rowBound: Double = RowBound,
      margin: Double = RegimeMargin): Boolean =
    rowExponent.forall(_ > rowBound) || workExponent > bound + margin ||
      workExponent >= AbsoluteCap

  /** The advisory [[RegimeDrift]] finding for an over-bound fit the
    * rule downgraded — rows AND control evidence inline so the
    * artifact reader never has to re-run the pass to judge it.
    * `controlDesc` names the mechanism control that confirmed ("at
    * 256 shuffle partitions" / "with the broadcast threshold
    * disabled"); `controlExponent` None = that control run flattened
    * below the noise floor (the strongest drop). */
  def regimeFinding(name: String, workExponent: Double, bound: Double,
      rows: Seq[Long], rowExponent: Option[Double],
      controlExponent: Option[Double],
      controlDesc: String): PlanAudit.Finding = {
    // a bound-origin finding is literally over its bound; a
    // drift-origin one (fresh fit above the RECORDED fit by more than
    // tolerance, possibly still under the bound) must not claim so
    val flagged =
      if (workExponent > bound) f"over bound $bound%.2f"
      else f"drifted above its recorded fit (bound $bound%.2f)"
    PlanAudit.Finding(RegimeDrift,
      f"$name: work exponent $workExponent%.2f $flagged " +
        "but row volume grows at " +
        rowExponent.map(e => f"$e%.2f").getOrElse("unfit") +
        s" (rows ${rows.mkString(" -> ")}) and the exponent " +
        s"$controlDesc drops to " +
        controlExponent.map(e => f"$e%.2f")
          .getOrElse("below the noise floor") +
        " — constant-regime step, not algorithmic growth",
      subject = name)
  }

  /** Drift check against a RECORDED exponent table: fails when a
    * fresh fit exceeds its recorded exponent by more than `tolerance`
    * (growth got WORSE — new code path, lost pruning), or when a
    * previously-unfit query now fits above the default bound. Getting
    * FASTER or losing the fit (sank into overhead) is never drift.
    *
    * Tolerance 0.45: the mid-range fits whose work straddles a
    * constant-regime step (see [[RegimeDrift]]) reproduce within
    * ±0.2 of exponent run to run (q29d_paths measured 1.33–1.71
    * across clean sweeps) — a tighter tolerance flakes on them, and
    * gross growth is the BOUND check's job, which the drift gate
    * composes with, not replaces. */
  def driftFindings(recorded: Map[String, Double], fresh: Seq[ScalingFit],
      tolerance: Double = 0.45, defaultBound: Double = 1.6,
      bounds: Map[String, Double] = Map.empty): Seq[PlanAudit.Finding] =
    fresh.flatMap { f =>
      (f.exponent, recorded.get(f.name)) match {
        case (Some(e), Some(r)) if e > r + tolerance =>
          Some(PlanAudit.Finding(SuperlinearScaling,
            f"${f.name}: exponent drifted ${r}%.2f → ${e}%.2f " +
              f"(tolerance ${tolerance}%.2f)", subject = f.name))
        case (Some(e), None)
            if e > bounds.getOrElse(f.name, defaultBound) =>
          Some(PlanAudit.Finding(SuperlinearScaling,
            f"${f.name}: newly fitted exponent ${e}%.2f exceeds bound " +
              f"${bounds.getOrElse(f.name, defaultBound)}%.2f (was " +
              "unfit/unrecorded)", subject = f.name))
        case _ => None
      }
    }
}
