package graft

import org.apache.spark.sql.SparkSession

import graft.plans.ScalingAudit

/** Standalone sweep for the empirical scaling-exponent audit
  * ([[graft.plans.ScalingAudit]]): run the scaling-risk query list
  * across three scale rungs a decade apart, fit each query's WORK
  * growth exponent, and
  *
  *   - default mode: print one JSON line per query plus a summary,
  *     and write the table to `scaling_exponents.json` — the
  *     checked-in record ScalingTableSpec pins bounds against;
  *   - `--check`: re-measure and compare against the checked-in
  *     table, exit 1 when any exponent DRIFTED upward beyond
  *     tolerance (or a previously-unfit query now fits above its
  *     bound) — the regression gate for "the plans still scale the
  *     way round N measured";
  *   - `--out <path>` (either mode): additionally write one JSON
  *     artifact with the summary, findings and per-query fits — the
  *     per-round `SCALING_r0x.json` record.
  *
  * ## Scale rungs: the generated ladder, not the driver fixture
  *
  * By default the sweep measures on the [[ScalingData]] ladder
  * (`scalingdata/`, generated on first use, byte-deterministic):
  * rungs a clean 10× apart from testdata-sf0.01-equivalent up to
  * sf1-equivalent (orders 1.5M / lineitem ~6M / events 1M at the
  * top). The driver fixture was unusable twice over — `documents`
  * identical at sf0.001/sf0.01 (degenerate axis, `fitSized` refuses)
  * and the bottom rungs so small that 27/40 risk queries' first
  * differences sat under the work-noise floor. Each query measures on
  * the ladder its cost class needs ([[bigLadder]]): the shingle-heavy
  * dedup family and semdedup on `core` (documents 500→50k), the cheap
  * document/embedding family on `big` (documents 5k→500k) where their
  * data term clears the floor. Pointing `SPARK_GRAFT_SF_BASE` at a
  * directory that contains `sf0.001` (e.g. `/root/testdata`) instead
  * selects the legacy flat mode: every query on those three dirs.
  *
  * Runs on Harness's offline session, Bench's basis: SPARK_GRAFT_CPUS
  * threads and as many shuffle partitions; the scaled-partitions
  * control re-fits at a fixed 256. Env knobs: SPARK_GRAFT_SF_BASE
  * (default `scalingdata`), SPARK_GRAFT_CPUS, SPARK_GRAFT_RUNS
  * (samples per point, default 3), SPARK_GRAFT_ONLY (comma subset of
  * the measurable entries; a name outside them fails the run). */
object ScalingSweep {

  /** The queries whose 100 TB story rests on a growth argument —
    * prefix-family rewrites, iterative graph loops, dedup banding /
    * clustering, interval joins, recursive hierarchy — pinned
    * empirically instead of by review prose. */
  val riskList: Seq[String] = Seq(
    // two-level prefix family (PrefixSum / PrefixLead / PrefixCarry)
    "q14b_distribution", "q14g_pareto", "q24_zipf", "q26_mix",
    "q27_pack", "q27_shuffle", "q35d_mad", "q38b_interval_union",
    // iterative graph loops (rounds ~ log n of linear work)
    "q41_pagerank", "q41b_lpa", "q41c_components", "q41d_kcore",
    "q44_triangles", "q44b_clustering",
    // dedup banding, blocking, clustering
    "q22_dedup_minhash", "q22_dedup_ngram", "q22_dedup_simhash",
    "q22_dedup_snm", "q22_dedup_contain", "q22_dedup_cluster",
    "q22_dedup_keep_best",
    // similarity: the documented n^1.5 cluster bound + partition fans
    "q23_semdedup", "q23_semdedup_adaptive", "q23_knn_exact", "q23_kmeans",
    // interval / range / as-of joins
    "q11_join_range", "q11c_interval_join", "q38_overlap", "q12_asof",
    // other loops and pair machinery
    "q24_bpe_train", "q42b_triples", "q19j_theilsen", "q37_hierarchy",
    // blocked pair matching, per-entity sequence assembly, resampling,
    // deliberate-skew joins, quasi-identifier grouping, embedding
    // pair hunts, positional adjacency — growth risks of a different
    // shape than the families above
    "q17b_fuzzy", "q40_sessionize", "q29d_paths", "q19i_bootstrap",
    "q28_skew_join", "q36c_anonymity", "q22_dedup_embed", "q43c_phrase")

  /** Each risk query's PRIMARY input table — the one whose row count
    * sets its work scale. Fed to [[graft.plans.ScalingAudit.fitSized]]
    * as measured per-rung sizes: the fit's scale axis is DATA, not a
    * directory-name assumption (lineitem's Poisson(4) row count, for
    * one, is only ~4× orders). Queries reading several tables carry
    * the DOMINANT one (q42b's triple generation is basket-driven). */
  val primaryTable: Map[String, String] = Map(
    "q14b_distribution" -> "orders", "q14g_pareto" -> "orders",
    "q24_zipf" -> "documents", "q26_mix" -> "documents",
    "q27_pack" -> "documents", "q27_shuffle" -> "documents",
    "q35d_mad" -> "events", "q38b_interval_union" -> "events",
    "q41_pagerank" -> "orders", "q41b_lpa" -> "orders",
    "q41c_components" -> "lineitem", "q41d_kcore" -> "lineitem",
    "q44_triangles" -> "orders", "q44b_clustering" -> "orders",
    "q22_dedup_minhash" -> "documents", "q22_dedup_ngram" -> "documents",
    "q22_dedup_simhash" -> "documents", "q22_dedup_snm" -> "part",
    "q22_dedup_contain" -> "documents", "q22_dedup_cluster" -> "documents",
    "q22_dedup_keep_best" -> "documents",
    "q23_semdedup" -> "embeddings", "q23_knn_exact" -> "embeddings",
    "q23_semdedup_adaptive" -> "embeddings",
    "q23_kmeans" -> "embeddings",
    "q11_join_range" -> "events", "q11c_interval_join" -> "lineitem",
    "q38_overlap" -> "events", "q12_asof" -> "events",
    "q24_bpe_train" -> "documents", "q42b_triples" -> "lineitem",
    "q19j_theilsen" -> "lineitem", "q37_hierarchy" -> "orders",
    "q24_collocations" -> "documents", // heaps variant only
    "q17b_fuzzy" -> "part", "q40_sessionize" -> "events",
    "q29d_paths" -> "events", "q19i_bootstrap" -> "lineitem",
    "q28_skew_join" -> "lineitem", "q36c_anonymity" -> "customer",
    "q22_dedup_embed" -> "embeddings", "q43c_phrase" -> "documents")

  /** Queries measured on the `big` ladder (documents 5k→500k,
    * embeddings 2k→200k): the CHEAP document/embedding family, whose
    * per-row cost is so small that below ~5k docs the work first
    * difference sits under the noise floor (honest unfit, no signal).
    * The shingle-heavy dedup family and the n^1.5 semdedup stay on
    * `core` (documents 500→50k) — at 500k docs their kernels would
    * cost minutes per sample, and core already gives them first
    * differences 100× over the floor. */
  val bigLadder: Set[String] = Set(
    "q24_zipf", "q24_bpe_train", "q26_mix", "q27_pack", "q27_shuffle",
    "q43c_phrase", "q23_knn_exact", "q23_kmeans")

  /** Queries measured on the `vec` ladder (embeddings 2k→200k, other
    * tables pinned — see [[ScalingData]]): the adaptive-k semdedup,
    * whose Θ(n^1.5) design claim needs rungs where BOTH first
    * differences clear the noise floor (core's 200→2k bottom step is
    * all-overhead for it) without the minutes-per-sample cost its
    * k·n assignment would pay at big's 2M top rung — and the FIXED-k
    * twin, whose committed core-ladder fit (0.20 at ≤20k vectors) was
    * all-overhead and said nothing about its growth (the r11 verdict
    * finding): on this band its pair term dominates by r3 and the
    * honest exponent is measurable (see its bound note — quadratic at
    * pinned k, by definition). */
  val vecLadder: Set[String] = Set("q23_semdedup_adaptive", "q23_semdedup")

  /** Queries measured on the `graph` ladder (orders 50k→5M with
    * customers in the fixture's 10:1 ratio — see [[ScalingData]]):
    * the (orders, customers)-derived referral-graph entries whose
    * core-ladder fits coin-flipped on bottom-rung scatter —
    * q41_pagerank was the r11 verdict's last straddler (committed
    * 1.824/1.646 across rounds vs --check refits of 1.40/unfit; work
    * d1 ≈ 0.3 s against ~0.5 s of r1 work), and q44_triangles' r12
    * check fit (1.86) needed the full advisory machinery for what its
    * 256-partition control (1.14) says is a working-set step. On this
    * band the per-iteration joins' data term clears every floor at
    * BOTH steps. q41b_lpa joined in r13 (the r12 verdict's item 4):
    * same shape as pagerank — its committed core fit (1.558) vs
    * --check refits (1.762-with-advisory) straddled the default bound
    * on core-ladder bottom-rung first differences that sat inside
    * sample scatter. The lineitem-based graph entries (q41c
    * components, q41d k-core) stay on core: their co-purchase pair
    * mass depends on the part universe, which this ladder pins. */
  val graphLadder: Set[String] =
    Set("q41_pagerank", "q41b_lpa", "q44_triangles")

  /** Queries ADDITIONALLY measured on the `heaps` ladder (growing
    * vocabulary — see [[ScalingData]]), recorded as `<name>@heaps`
    * entries BESIDE their constant-vocabulary fits: the queries whose
    * corpus-bound exponents (ngram 1.89 on a 31-word vocabulary,
    * fuzzy all-overhead on 64 constant names, containment candidate
    * mass driven by shared-shingle density) reflect the fixture, not
    * the plan — on natural text the vocabulary grows (Heaps' law) and
    * the prefix filter / distinct-names bound prunes. The @heaps
    * entries carry the DEFAULT 1.6 bound deliberately: the measured
    * natural-text exponent is the claim the 100 TB story rests on, so
    * it gets no corpus-excuse relaxation. */
  val heapsList: Seq[String] =
    Seq("q22_dedup_ngram", "q17b_fuzzy", "q24_collocations",
      "q22_dedup_contain")

  private val HeapsSuffix = "@heaps"

  /** Every table entry the ladder-mode sweep measures: the risk list
    * plus the heaps variants. */
  val allEntries: Seq[String] =
    riskList ++ heapsList.map(_ + HeapsSuffix)

  /** The inventory query an entry name runs (`q22_dedup_ngram@heaps`
    * runs `q22_dedup_ngram` — same plan, different corpus law). */
  def queryOf(entry: String): String = entry.stripSuffix(HeapsSuffix)

  def ladderOf(name: String): String =
    if (name.endsWith(HeapsSuffix)) "heaps"
    else if (bigLadder(name)) "big"
    else if (vecLadder(name)) "vec"
    else if (graphLadder(name)) "graph"
    else "core"

  /** Per-entry sample-count overrides: the near-bound fits whose
    * committed exponents sit within ~0.4 of their fatal threshold
    * take 5 samples per rung instead of the default 3 — tighter
    * per-rung minima (the recorded work_spread shows the agreement)
    * separate a regime step from growth with evidence rather than
    * margin. q41b_lpa / q14g_pareto sit near the default bound;
    * ngram / cluster / keep_best are the r10 verdict's coin-flip
    * entries, whose fits straddled their documented bounds across
    * clean sweeps on 3-sample minima. */
  val extraRuns: Map[String, Int] =
    Map("q41b_lpa" -> 5, "q14g_pareto" -> 5,
      "q22_dedup_ngram" -> 5, "q22_dedup_cluster" -> 5,
      "q22_dedup_keep_best" -> 5, "q23_semdedup_adaptive" -> 5,
      "q22_dedup_contain@heaps" -> 5, "q22_dedup_contain" -> 5,
      // the r11 verdict's last 3-sample bound-straddler: committed
      // 1.824-with-advisory vs a same-round --check re-fit of 1.403 —
      // a 0.42 swing that is exactly the scatter extraRuns exists for
      // (now ALSO re-pointed to the graph ladder, where its data term
      // clears the scatter instead of merely averaging over it)
      "q41_pagerank" -> 5, "q44_triangles" -> 5,
      // fixed-k semdedup re-pointed to the vec ladder: its pair term
      // sits near its documented definitional bound, so the fit gets
      // the same 5-sample treatment as the other near-bound entries
      "q23_semdedup" -> 5)

  /** Per-query exponent bounds where the DESIGN is documented
    * super-linear; everything else is held to the default 1.6
    * (log-linear loops fit ≈ 1.0–1.3 over this range; quadratic reads
    * ≈ 2). */
  val bounds: Map[String, Double] = Map(
    // FIXED-k semdedup (k = 8 pinned) measured on the vec ladder:
    // with k pinned while n grows, within-cluster pair work is
    // Θ(Σ|c|²) = Θ(n²/k) — quadratic BY DEFINITION, same class as
    // q22_dedup_embed (the clustering divides the pair mass by a
    // CONSTANT; only k ≈ √n sizing makes it n^1.5, and that sizing
    // IS the adaptive twin below, measured 1.5 on the same ladder).
    // This entry exists for the fixed-k semantics and its oracle;
    // the 100 TB path is q23_semdedup_adaptive. 2.25 = the
    // definitional 2.0 plus the same constant-regime scatter the
    // other heavy pair kernels show run to run. Rows measure 1.31 at
    // these rungs (the n·k·d assignment term dominates the row axis
    // before the n²/k pair stream does — see rowsBounds), so the
    // backstop past this bound is the regime rule's ABSOLUTE CAP:
    // any fit over 2.25 is over 1.9 and stays fatal whatever the
    // rows/control evidence says.
    "q23_semdedup" -> 2.25,
    // the production-sizing twin: k grows with ⌈√n⌉, so assignment
    // (n·k·d) and within-cluster pairs (n²/k) are BOTH Θ(n^1.5) BY
    // DESIGN — the measured exponent ≈1.5 IS the claim. 1.8 = 1.5
    // plus the constant-regime scatter this fit shows run to run
    // (measured 1.47–1.60 across clean runs: the 32-task fixed
    // overhead dominates the 2k-vector bottom rung and its sampling
    // noise rides the first difference). Rows are definitionally
    // ~n^1.5 here (the within-cluster pair stream), so the regime
    // rule never exculpates a genuine regression past this bound.
    "q23_semdedup_adaptive" -> 1.8,
    // rarest-first one-sided prefix probe: on THIS corpus the prefix
    // filter is UNIVERSE-limited like ngram below — the 31-word
    // vocabulary leaves even the rarest probe shingle occurring in
    // thousands of documents, so candidate mass is Θ(n²/|U|) with |U|
    // constant and the honest core-ladder exponent approaches 2. The
    // r11 bound of 1.8 sat INSIDE the fit's own cross-run scatter
    // (measured 1.77 committed r11 / 2.10 in the r12 check, on
    // 3-sample rungs whose r2 minima wobbled 9.8–13.3s run to run)
    // and coin-flipped the gate on untouched code — the exact failure
    // mode the r10 verdict called out for ngram. 2.25 = the
    // definitional 2.0 plus that measured scatter; the @heaps twin
    // (fit 0.84 under the STRICT default 1.6) carries the natural-
    // text claim the 100 TB story rests on, where vocabulary growth
    // collapses the shared-shingle candidate mass.
    "q22_dedup_contain" -> 2.25,
    // banded candidate pair graph -> large-star/small-star CC (and its
    // cluster-scale max_by consumer keep_best): per-round work is
    // O(m + candidates) but the ROUND COUNT grows with duplicate-
    // cluster density at these rungs, so the work exponent straddles
    // 1.5-1.73 across clean runs (measured r10: 1.50/1.67/1.69/1.71 —
    // a default-bound coin flip). The evidence that this is the
    // documented design and not a candidate blowup is in the table:
    // ROW volume fits SUB-linear (cluster 0.85, keep_best 0.86 —
    // materialized pair blowups cannot hide from the rows axis) and
    // the 256-partition control drops both (1.43/1.28). A real
    // regression still fails: rows super-linear, drift > 0.45, or
    // work past this bound all stay fatal.
    "q22_dedup_cluster" -> 1.8,
    "q22_dedup_keep_best" -> 1.8,
    // binned interval×interval join: the ALGORITHM is measured linear
    // — candidate mass counted directly on the ladder parquet
    // (Σ per-(part,bin) cnt²: 177k → 1.77M → 17.7M, exactly ×10 per
    // rung) and row volume fits 0.85 — but the fitted decade contains
    // a planner REGIME FLIP (BroadcastHashJoin at r2 while the binned
    // side fits the threshold, SortMergeJoin + two exchanges + two
    // sorts at r3), so the work exponent straddles 1.56–1.76 across
    // clean runs. Held in the shuffle regime on every rung
    // (autoBroadcastJoinThreshold −1, where a 100 TB deployment lives
    // anyway) the same plan fits 0.61 — the no-broadcast mechanism
    // control exists for exactly this entry. 1.8 covers the flip
    // scatter; a genuine candidate blowup is rows and stays fatal.
    "q11c_interval_join" -> 1.8,
    // iterative peel over a support-thresholded co-purchase graph:
    // work = rounds x m where the EDGE count m itself grows
    // super-linearly in this SF range (more baskets push more pairs
    // over support 2) and peel depth grows with density — per-round
    // work stays O(m); mechanism documented in the q41d scaladoc
    "q41d_kcore" -> 1.75,
    // pagerank (8 fixed iterations, two shuffle joins + one partial
    // agg per iteration): per-iteration work is O(m) and rows measure
    // 1.23 EXACTLY (the graph densifies mildly as orders outgrow the
    // pinned 10:1 customer universe), but the measured work exponent
    // lives in a constant-regime band the first-difference fit cannot
    // see through at these rungs — 1.67/1.78/1.83 across three clean
    // rounds, with the two mechanism controls measuring 1.38 (join
    // strategy held shuffle-regime at every rung: the honest
    // algorithmic growth, under the default bound) and 1.48–1.66
    // (256 partitions: the per-task working-set step, drifting as the
    // r3 working set grows). Three rounds of the same advisory with a
    // wobbling exponent is evidence-weak (the r13 verdict's one weak
    // item), so the disposition is RECORDED instead of re-derived:
    // the work bound equals the regime rule's ABSOLUTE CAP — past
    // 1.9 nothing exculpates, under it the work axis asserts only
    // "not a compute blowup" — and the FORMAL regression gate is the
    // exact rows axis (rowsBounds: 1.35 over the measured 1.23),
    // which a genuine edge/candidate blowup must cross. Decisive
    // amortization evidence would need a 4th decade (50M orders,
    // ~870 s work per sample) this harness cannot afford per round;
    // the recorded-bound pattern is the same one the widened dedup
    // bounds use (rows as backstop, cap as ceiling).
    "q41_pagerank" -> 1.9,
    // large-star/small-star CC: per-round work is O(m) but the ROUND
    // COUNT is the graph's convergence depth (O(log² n) worst case,
    // data-dependent) — in this SF range it steps 2→4 while m also
    // grows, so the measured work exponent swings 1.2–1.75 run to run
    // on round-count alone (the r8 verdict's non-monotone-at-tiny-SF
    // nit, unchanged by more data). The bound covers rounds-growth ×
    // m-growth; a genuinely quadratic edge blowup would blow past it
    "q41c_components" -> 1.8,
    // n-gram Jaccard prefix filtering is UNIVERSE-limited on this
    // corpus: the fixture's 31-word vocabulary admits ≤961 distinct
    // word bigrams, so candidate mass is Θ(n²/|U|) with |U| CONSTANT —
    // the rarest prefix shingle of a 50k-doc rung still occurs in
    // thousands of documents, and no complete filter for Jaccard ≥ 0.5
    // can prune below shared-shingle co-occurrence. On natural text
    // |U| grows with the corpus (Heaps' law) and the same plan prunes;
    // on THIS corpus the honest exponent is ≈2 (candidate rows fit
    // 1.8 — the materialized shared-shingle stream, a data property
    // the rows bound below pins, not a plan bug; the @heaps twin measures
    // the same plan at 1.4 on natural-text vocabulary growth and
    // carries the real-world claim under the strict default bound).
    // 2.3 = the definitional 2.0 plus the constant-regime scatter
    // this fit shows run to run even on 5-sample minima (measured
    // 1.99–2.16 across r10/r11 clean sweeps, 2.22 in the r12 check —
    // the r10 bound of 2.1 and then the r11 bound of 2.2 each sat
    // INSIDE the scatter band observed next round and coin-flipped
    // on untouched code; the d1 here is a ~6s difference between two
    // points that each carry ~9s of fixed shingle-kernel cost, so
    // min-estimator wobble of ±10% swings the exponent ±0.15).
    // The banded siblings measure linear on the same corpus (minhash
    // 0.73, simhash 1.05) and are the corpus-scale near-dup path;
    // exact verification stays candidate-bounded either way, and the
    // @heaps twin (1.06, strict 1.6 bound) carries the real-world
    // claim.
    "q22_dedup_ngram" -> 2.3,
    // EXACT cosine-threshold self-join: quadratic BY DEFINITION — the
    // blocked all-pairs baseline computes (and its worst-case output
    // IS) Θ(n²) pairs; no exact algorithm beats that on dense-
    // similarity data, and LSH banding at the 0.5 threshold prunes
    // nothing (P[band match] for a random pair ≈ P for a true pair).
    // It therefore measures on the CORE embeddings rung (≤20k — the
    // sweep exists to pin the shape, not to brute-force 2M²/2 pairs);
    // the corpus-scale near-dup paths are q23_semdedup (cluster-
    // bounded, bound 1.7) and the minhash/simhash banded families —
    // see the q22_dedup_embed scaladoc. 2.25 = the definitional 2.0
    // plus the same constant-regime drift every heavy aggregation
    // carries on this fixed-resource ladder (measured 2.09–2.16 run
    // to run). Its n² is COMPUTE fused inside the blocked join's
    // condition, so the rows axis sees only survivors (measured
    // 0.92 — the compute-bound-quadratic class the RegimeDrift doc
    // warns rows cannot see); the backstop past this bound is the
    // regime rule's ABSOLUTE CAP: any fit over 2.25 is over 1.9 and
    // stays fatal whatever the rows/control evidence says.
    "q22_dedup_embed" -> 2.25)

  /** Per-entry ROWS-exponent bounds — the recorded backstop behind
    * the widened "definitional + measured scatter" WORK bounds above
    * (the r12 verdict's item 3: a gate, not scaladoc prose).
    *
    * RESIDUAL DETECTION FLOOR of the work axis (the r12 ADVICE's
    * ask, stated once): for the four entries here, the work bound
    * sits 0.25–0.3 of exponent above the definitional 2.0, and the
    * strictly-last noise retry folds by per-rung work MINIMUM — so a
    * real work-side regression must push the folded exponent past
    * ~2.25–2.3 in BOTH runs to fail the work gate; anything smaller
    * can fold away as host noise. Two mechanisms close that gap:
    *
    *   - the ROWS bound here — rows are EXACT (one deterministic run
    *     per rung: no sampling scatter, no min-fold, no noise-retry),
    *     so a MATERIALIZED blowup cannot ratchet past it. What each
    *     entry's rows axis actually sees (r13 measurements):
    *     ngram/contain materialize their candidate pair stream
    *     (exploded prefix-index join — rows fit 1.80 both); semdedup
    *     rows fit 1.31 (the n·k·d assignment term dominates the row
    *     axis before the n²/k pair stream does); embed's n² is
    *     compute FUSED inside the blocked join's condition, so rows
    *     see only survivors (0.92) and gate un-fused candidate
    *     streams / survivor blowups, not the kernel itself;
    *   - the regime rule's ABSOLUTE CAP (1.9): for these wide bounds
    *     any over-bound fit is ≥ 1.9, so it stays FATAL regardless
    *     of rows or control evidence — the work gate past the bound
    *     cannot be laundered into an advisory.
    *
    * The sweep measures rows for these entries on EVERY ladder run
    * (not just when work flags), records them with the bound in the
    * committed table, and [[graft.plans.ScalingAudit
    * .rowsBoundFindings]] fails the --check gate — and
    * ScalingTableSpec the committed table — on a rows exponent over
    * its bound or a rows axis that stopped fitting. Bound 2.15 = the
    * definitional ceiling (the summed row metric's linear scan/
    * shuffle components dilute a pure n² stream to just under 2.0,
    * measured 1.80 max) plus margin over the definitional limit, NOT
    * over observed scatter — rows have none. */
  val rowsBounds: Map[String, Double] = Map(
    "q22_dedup_ngram" -> 2.15,
    "q22_dedup_contain" -> 2.15,
    "q23_semdedup" -> 2.15,
    "q22_dedup_embed" -> 2.15,
    // pagerank's formal regression gate (see its work-bound note):
    // per-iteration join row volume measures 1.229 exactly and
    // reproduces across runs; 1.35 (= the regime rule's RowBound)
    // is linear-ish growth with the graph-densification margin — an
    // edge blowup or a candidate-stream regression crosses it while
    // the constant-regime work wobble never touches the rows axis
    "q41_pagerank" -> 1.35)

  /** FLOOR-DOCUMENTED entries (r13 verdict item 4) — the committed
    * growth verdict for queries whose per-rung work DIFFERENCES sit
    * under the sweep's detection floors at every rung (wall flat,
    * `exponent: null` is the honest fit refusal), while their EXACT
    * rows axis fits ~1.0: the disposition "linear — flat wall under
    * a recorded work floor, rows exactly linear" rides in the table
    * (`work_floor` + `rows_bound` + the standing rows measurement)
    * instead of a blank where a verdict should be. value =
    * (workFloorSec, rowsBound):
    *   - workFloorSec: the per-rung WORK ceiling under which "unfit"
    *     is the healthy reading — ~3× the top of the entry's measured
    *     cross-round work band, so a code change that makes the
    *     entry genuinely grow (at these rungs a real regression is an
    *     order of magnitude, not 1.5×) fails
    *     [[graft.plans.ScalingAudit.floorFindings]] by name instead
    *     of hiding behind the unfit refusal, while a sustained
    *     host-noise window (the r12 lesson: 2–3× spikes can survive
    *     a rung's min-of-3) cannot coin-flip the gate red on
    *     untouched code;
    *   - rowsBound 1.15: linearity with margin over the exact,
    *     scatter-free rows fit (all three measure 0.95–1.02).
    * q17b_fuzzy (0.14–0.15 s work, rows 1.00) and q36c_anonymity
    * (0.14 s, rows 1.00) are sub-floor everywhere; q27_shuffle
    * (1.2→2.8 s on big, a per-row shuffle) and q14g_pareto
    * (0.3→5.8 s on core, whose bottom-decade first difference
    * ~0.05 s sits inside sampling scatter while the top decade fits
    * ~1.25 when the refusal doesn't fire) coin-flip between a clean
    * log-linear fit and an honest refusal run to run — their floors
    * sit above the measured work band, so whichever way the fit
    * lands, the entry carries a verdict and a gate. */
  val floorBounds: Map[String, (Double, Double)] = Map(
    "q17b_fuzzy" -> ((0.5, 1.15)),     // band 0.09–0.15 s
    "q36c_anonymity" -> ((0.5, 1.15)), // band 0.12–0.14 s
    "q27_shuffle" -> ((9.0, 1.15)),    // band 0.9–3.2 s
    "q14g_pareto" -> ((20.0, 1.15)))   // band 4.6–6.8 s

  def main(args: Array[String]): Unit = {
    val check = args.contains("--check")
    val outPath = args.sliding(2).collectFirst {
      case Array("--out", p) => p }
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_BASE",
      ScalingData.defaultBase)
    // legacy flat mode: a base that carries driver-fixture-style
    // sf-directories measures every query on those three dirs
    val flatMode = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$base/sf0.001"))
    val cpus = Harness.cpus
    // 3 samples per point (vs the bench's 2): the fit differences tiny
    // minima, so each point's min is worth one extra sample of rigor
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    // flat mode measures the risk list only: the heaps variants NEED
    // the generated growing-vocabulary rungs, which a flat fixture
    // base does not carry
    val measurable = if (flatMode) riskList else allEntries
    // names outside the measurable entries are a LOUD error, not a
    // silent empty selection — SPARK_GRAFT_ONLY=q01_scan would
    // otherwise select nothing and (pre-merge) have clobbered the
    // table with it
    val only = Harness.only(measurable)
    val selected = only.fold(measurable)(names => measurable.filter(names))
    val unknown =
      selected.filterNot(e => SparkEntry.queries.contains(queryOf(e)))
    require(unknown.isEmpty, s"not in the inventory: $unknown")
    val spark = Harness.session()
    def dirsOf(name: String): Seq[String] =
      if (flatMode) Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"$base/$s")
      else ScalingData.dirs(base, ladderOf(name))
    if (flatMode)
      dirsOf("").foreach { d =>
        require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)),
          s"scale directory missing: $d (set SPARK_GRAFT_SF_BASE)")
      }
    else ScalingData.ensure(spark, base) // generate missing rungs
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def ladderDirs(ladder: String): Seq[String] =
      if (flatMode) dirsOf("") else ScalingData.dirs(base, ladder)
    // the basis label each entry is RECORDED under — the actual
    // measurement basis, so a flat-mode run merged into a ladder-mode
    // table (or read later) can never pass its entries off as ladder
    // measurements
    def basisOf(name: String): String =
      if (flatMode) "flat" else ladderOf(name)
    // measured per-rung row counts of every referenced primary table
    // (one cheap count each), keyed by the ladder it was counted on
    val tableRows: Map[(String, String), Seq[Long]] =
      selected.map(n => (ladderOf(n), primaryTable(queryOf(n))))
        .distinct.sorted
        .map { case (ladder, t) =>
          (ladder, t) -> ladderDirs(ladder).map(d =>
            spark.read.parquet(s"$d/$t.parquet").count())
        }.toMap
    def sizesOf(name: String): Seq[Long] =
      primaryTable.get(queryOf(name))
        .map(t => tableRows((ladderOf(name), t))).getOrElse(Nil)
    def fnOf(name: String): (SparkSession, String) => org.apache.spark.sql.DataFrame =
      SparkEntry.queries(queryOf(name))
    val rawFits = selected.map { name =>
      val sizes = sizesOf(name)
      val f = ScalingAudit.fit(spark, name, fnOf(name),
        dirsOf(name), math.max(runs, extraRuns.getOrElse(name, 0)),
        sizes = sizes)
      println(entryJson(name, f, sizes, basisOf(name), withName = true))
      f
    }
    // STRICTLY-LAST NOISE RETRY: every entry whose fresh fit sits
    // over its bound is
    // re-measured ONCE after the whole sweep — minutes away from its
    // original sampling window — and the two runs fold by per-rung
    // work minimum ([[graft.plans.ScalingAudit.foldMin]]) before any
    // verdict pass runs. This host's noise arrives in sustained
    // multi-minute windows the within-run spread floors cannot see
    // (both graph-ladder entries of one r12 check run measured
    // 1.5-1.9x their reproduced cross-run work at the top rung, with
    // clean spreads, and one read a fatal 2.04); a window folds away,
    // a genuine regression reproduces in both runs and keeps its
    // finding. Bounded: one retry, bound-flagged entries only, same
    // sample count as the original.
    // when the fold CHANGES the verdict (the original fit was over
    // bound, the folded one is not), the original number is kept in
    // the artifact/table as exponent_prefold + retry_disagreed=true —
    // the r12 ADVICE's point: the min-fold is one-sided, so a retry
    // that disagrees with its original must leave a flagged record a
    // reader can audit, not silently take the smaller number
    val prefold = scala.collection.mutable.Map[String, (Double, Boolean)]()
    val fits = rawFits.map { f =>
      if (!f.exponent.exists(_ > bounds.getOrElse(f.name, 1.6))) f
      else {
        System.err.println(f"[scaling] ${f.name}: preliminary fit " +
          f"${f.exponent.get}%.2f over bound ${bounds.getOrElse(f.name, 1.6)}%.2f" +
          " — strictly-last re-measure")
        val again = ScalingAudit.fit(spark, s"${f.name}[retry]",
          fnOf(f.name), dirsOf(f.name),
          math.max(runs, extraRuns.getOrElse(f.name, 0)),
          sizes = sizesOf(f.name))
        val folded = ScalingAudit.foldMin(f, again, sizesOf(f.name))
        val disagreed =
          !folded.exponent.exists(_ > bounds.getOrElse(f.name, 1.6))
        prefold(f.name) = (f.exponent.get, disagreed)
        if (disagreed)
          System.err.println(f"[scaling] ${f.name}: retry DISAGREED — " +
            f"prefold ${f.exponent.get}%.2f over bound, folded ${
              folded.exponent.map(e => f"$e%.2f").getOrElse("unfit")} " +
            "under; recording both (one-sided fold, see rowsBounds doc)")
        println(entryJson(f.name, folded, sizesOf(f.name),
          basisOf(f.name), withName = true))
        folded
      }
    }
    val overRaw = ScalingAudit.auditExponents(fits, bounds = bounds)
    val overNames = overRaw.map(_.subject).toSet
    val path = java.nio.file.Paths.get("scaling_exponents.json")
    val driftRaw =
      if (!check) Nil
      else {
        require(java.nio.file.Files.exists(path),
          "--check needs a checked-in scaling_exponents.json (run the " +
            "sweep without --check first)")
        val recorded = readTable(
          new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
        // a query that stopped RUNNING must fail the gate too — its
        // exponent is None, which the drift rules alone would read as
        // the benign sank-into-overhead case
        ScalingAudit.driftFindings(recorded, fits, bounds = bounds)
      }
    val driftNames = driftRaw.map(_.subject).toSet
    // REGIME PASS (second stage, flagged queries only), two kinds of
    // evidence per candidate:
    //   1. ROW volume per rung + its growth fit — materialized
    //      candidate blowups are rows, so super-linear rows (or an
    //      unfit row axis, or work beyond margin/cap) stays FATAL;
    //   2. the SCALED-PARTITIONS CONTROL for candidates rows did not
    //      condemn: re-fit the work exponent with shuffle partitions
    //      scaled up (per-task bytes held ~constant, as a production
    //      deployment would size them). A per-task working-set step
    //      disappears under the control; algorithmic growth — incl.
    //      the compute-bound quadratics rows cannot see — does not.
    // Only a candidate BOTH passes is downgraded to the advisory
    // constant-regime-drift kind, and both measurements ride in the
    // artifact (rows/rows_exponent, exponent_scaled_partitions).
    val candidates = (overNames ++ driftNames).toSeq.sorted
    // rows are also measured for every work-UNFIT query (measured at
    // all rungs, exponent refused by the noise floors): rows are
    // EXACT — no sampling scatter — so an entry whose work cannot be
    // fitted at this host's noise still carries a measured growth
    // axis (q41_pagerank: work d1 sits inside its own run-to-run
    // band, rows fit 1.18 — the growth story survives the honest
    // work refusal). One untimed run per rung, unfit queries only.
    val unfitFull = fits.filter(f => f.exponent.isEmpty &&
      f.points.size == ScalingData.rungs.size).map(_.name)
    // rows-BOUNDED entries measure rows on EVERY run, flagged or not:
    // their wide work bounds rest on the rows axis (see rowsBounds),
    // so the backstop must be a standing measurement, not one that
    // only exists when work happens to flag. Ladder mode only — the
    // legacy flat fixture's degenerate documents axis (500 rows at
    // two rungs) cannot fit rows and would fail spuriously.
    val rowsBounded =
      if (flatMode) Nil else selected.filter(rowsBounds.contains)
    // floor-documented entries likewise measure rows on EVERY run:
    // the linear-rows half of their committed disposition must be a
    // standing measurement (see floorBounds)
    val floorDocumented =
      if (flatMode) Nil else selected.filter(floorBounds.contains)
    val rowFits: Map[String, (Seq[Long], Option[Double])] =
      (candidates ++ unfitFull ++ rowsBounded ++ floorDocumented)
        .distinct.sorted.map { name =>
        val rows = ScalingAudit.rowVolumes(spark, fnOf(name), dirsOf(name))
        val e =
          if (rows.size < ScalingData.rungs.size) None
          else ScalingAudit.fitRows(rows, sizesOf(name))
        name -> (rows, e)
      }.toMap
    def workOf(name: String): Option[Double] =
      fits.find(_.name == name).flatMap(_.exponent)
    def rowFatal(name: String): Boolean =
      workOf(name).forall(e =>
        ScalingAudit.regimeFatal(e, bounds.getOrElse(name, 1.6),
          rowFits.get(name).flatMap(_._2)))
    // fixed: every recorded control (SCALING_r10 onwards) ran at 256,
    // so a re-measure stays comparable with the table
    val controlPartitions = 256
    val controlFits: Map[String, ScalingAudit.ScalingFit] =
      candidates.filterNot(rowFatal).map { name =>
        spark.conf.set("spark.sql.shuffle.partitions",
          controlPartitions.toString)
        // same sample count as the primary fit: a near-bound entry
        // whose primary fit took 5 samples per rung (extraRuns) must
        // not be compared against a control built from noisier
        // 3-sample minima — both sides of the drop carry equal noise
        try name -> ScalingAudit.fit(spark, s"$name[control]", fnOf(name),
          dirsOf(name), math.max(runs, extraRuns.getOrElse(name, 0)),
          sizes = sizesOf(name))
        finally spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
      }.toMap
    // an UNFIT control only supports the downgrade when its fit was
    // refused because the data term genuinely vanished (flattened) —
    // a spread-floor or size-axis refusal is noise, not evidence
    def flattenedIn(m: Map[String, ScalingAudit.ScalingFit],
        name: String): Boolean =
      m.get(name).exists(c => c.exponent.isEmpty &&
        ScalingAudit.flattened(c.points.map(_.workSec), sizesOf(name)))
    def supportsIn(m: Map[String, ScalingAudit.ScalingFit],
        name: String): Boolean =
      m.get(name).exists(c =>
        workOf(name).exists(e => ScalingAudit.controlSupports(
          e, c.points.size, c.exponent, ScalingData.rungs.size,
          bound = bounds.getOrElse(name, 1.6),
          flattened = flattenedIn(m, name))))
    def controlFlattened(name: String): Boolean =
      flattenedIn(controlFits, name)
    // SECOND mechanism control, for EVERY candidate rows did not
    // condemn: re-fit with the broadcast threshold disabled, holding
    // the JOIN STRATEGY in the shuffle regime on every rung (where a
    // 100 TB deployment lives anyway). A broadcast→shuffle planner
    // flip inside the fitted decade — correct planning at each scale,
    // but a one-time cost step the partition control cannot see —
    // disappears under it; measured: q11c fitted 1.66 with
    // BroadcastHashJoin at r2 / SortMergeJoin at r3, and 0.61 with
    // the strategy held constant (its candidate mass counts exactly
    // linear: 177k → 1.77M → 17.7M). Until r12 this ran only when the
    // partition control failed to exculpate; now both controls are
    // measured for every candidate, because for the loop entries
    // whose documented mechanism IS the planner flip (q41_pagerank's
    // per-iteration score join) a partition-control drop alone is the
    // weaker refutation — the advisory should carry the measurement
    // that speaks to its own stated mechanism, not whichever
    // happened to clear the bar first.
    val strategyFits: Map[String, ScalingAudit.ScalingFit] =
      candidates.filterNot(rowFatal).map { name =>
          val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          try name -> ScalingAudit.fit(spark, s"$name[nobroadcast]",
            fnOf(name), dirsOf(name),
            math.max(runs, extraRuns.getOrElse(name, 0)),
            sizes = sizesOf(name))
          finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
            prior)
        }.toMap
    def fatalFor(name: String): Boolean =
      rowFatal(name) ||
        !(supportsIn(controlFits, name) || supportsIn(strategyFits, name))
    def regimeNote(name: String): graft.plans.PlanAudit.Finding = {
      val (ctl, desc) =
        if (supportsIn(controlFits, name))
          (controlFits(name), s"at $controlPartitions shuffle partitions")
        else (strategyFits(name),
          "with the broadcast threshold disabled (join strategy held)")
      ScalingAudit.regimeFinding(name, workOf(name).get,
        bounds.getOrElse(name, 1.6), rowFits(name)._1, rowFits(name)._2,
        ctl.exponent, desc)
    }
    val (over, regime) = overNames.toSeq.sorted.partition(fatalFor) match {
      case (fatal, downgraded) =>
        (overRaw.filter(o => fatal.contains(o.subject)),
          downgraded.map(regimeNote))
    }
    // drift findings compose with the same evidence: an upward work
    // drift on a query whose rows grew linearly, whose fresh fit sits
    // within bound+margin, and whose control fit confirms the
    // mechanism is the regime noise band (mid-range fits reproduce
    // within ~0.2–0.5 across clean sweeps), not a growth regression —
    // the bound check above, not the drift diff, owns gross growth
    val (drift, driftRegime) =
      driftNames.toSeq.sorted.partition(fatalFor) match {
        case (fatal, downgraded) =>
          (driftRaw.filter(o => fatal.contains(o.subject)),
            downgraded.filterNot(overNames) // one advisory per query
              .map(regimeNote))
      }
    val failed = ScalingAudit.auditMeasurementFailures(fits,
      ScalingData.rungs.size)
    // the rows-bound gate (fatal, never regime-downgradable): rows
    // are exact, so there is no noise for a control to exculpate
    val rowsOver =
      ScalingAudit.rowsBoundFindings(rowFits, rowsBounds, rowsBounded)
    // the floor-breach gate (fatal, like the rows bound: the floor
    // disposition is a committed verdict, and its both halves — work
    // under the documented floor, rows linear — are exact enough
    // that a breach is a real change, not noise to exculpate)
    val floorOver =
      ScalingAudit.floorFindings(fits, rowFits, floorBounds,
        floorDocumented)
    (over ++ regime ++ failed ++ rowsOver ++ floorOver).foreach(f =>
      System.err.println(s"[scaling] [${f.kind}] ${f.detail}"))
    drift.foreach(f =>
      System.err.println(s"[scaling] DRIFT [${f.kind}] ${f.detail}"))
    driftRegime.foreach(f =>
      System.err.println(s"[scaling] [${f.kind}] (drift) ${f.detail}"))
    val unfit = fits.filter(_.exponent.isEmpty).map(_.name)
    val findings =
      (over ++ regime ++ failed ++ rowsOver ++ floorOver ++ drift ++
        driftRegime).map(f => s"[${f.kind}] ${f.detail}")
    val runMode = if (flatMode) "flat" else "ladder"
    // COUNTING RULE (the r11 verdict's bookkeeping nit): "fitted" =
    // n_fit = every entry whose exponent is non-null, INCLUDING fits
    // that survive only via an advisory regime downgrade (those are
    // counted separately in n_regime_drift, which overlaps n_fit).
    // The artifact has ONE fitted count; prose about the table (commit
    // messages, ledgers) must quote n_fit verbatim, never a
    // hand-adjusted "fitted minus advisories" variant.
    val summary = s"""{"metric":"scaling","mode":"$runMode",""" +
      s""""sf_base":"$base","cpus":$cpus,"runs":$runs,""" +
      s""""control_partitions":$controlPartitions,""" +
      s""""n_queries":${fits.size},""" +
      s""""n_fit":${fits.count(_.exponent.nonEmpty)},""" +
      s""""n_over_bound":${over.size},"n_regime_drift":${
        regime.size + driftRegime.size},""" +
      s""""n_failed":${failed.size},"n_drift":${drift.size},""" +
      s""""n_rows_over_bound":${rowsOver.size},""" +
      s""""n_floor_breach":${floorOver.size},""" +
      s""""unfit":${unfit.take(12).map("\"" + _ + "\"")
        .mkString("[", ",", "]")}}"""
    println(summary)
    def fullEntry(f: ScalingAudit.ScalingFit): String =
      entryJson(f.name, f, sizesOf(f.name), basisOf(f.name),
        rowsInfo = rowFits.get(f.name),
        control = controlFits.get(f.name)
          .map(c => ControlRecord(controlPartitions, c.points.size,
            c.exponent, controlFlattened(f.name),
            c.points.map(_.workSec), c.points.map(_.workSpread))),
        strategy = strategyFits.get(f.name)
          .map(c => StrategyRecord(c.points.size, c.exponent,
            flattenedIn(strategyFits, f.name),
            c.points.map(_.workSec), c.points.map(_.workSpread))),
        rowsBound = rowsBounds.get(f.name)
          .orElse(floorBounds.get(f.name).map(_._2)),
        workFloor = floorBounds.get(f.name).map(_._1),
        prefold = prefold.get(f.name))
    // the per-round artifact: summary + findings + every fit, one file
    outPath.foreach { p =>
      val qJson = fits.map(f => s""""${f.name}":${fullEntry(f)}""")
        .mkString("{", ",", "}")
      val fJson = findings.map(s =>
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",", "]")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (summary.dropRight(1) +
          s""","findings":$fJson,"queries":$qJson}""" + "\n")
          .getBytes("UTF-8"))
    }
    if (check) {
      spark.stop()
      val gate = drift ++ over ++ failed ++ rowsOver ++ floorOver
      if (gate.nonEmpty) sys.exit(1)
    } else {
      // MERGE into the prior table, never clobber: a subset run
      // (SPARK_GRAFT_ONLY) updates only what it measured and carries
      // every other recorded entry forward — same rule as the bench
      // record (exponents are basis-robust by the work metric, so a
      // carried entry stays comparable). The header reflects THIS run.
      val freshEntries: Map[String, String] =
        fits.map(f => f.name -> fullEntry(f)).toMap
      val priorExists = java.nio.file.Files.exists(path)
      val priorJson: String =
        if (!priorExists) ""
        else new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      val priorEntries: Map[String, String] = readRawEntries(priorJson)
      // CLOBBER GUARD: when a prior table exists but
      // parses to nothing, a SUBSET run must not replace the committed
      // 40-query record with its handful of entries — refuse loudly;
      // only a FULL sweep may re-establish a table over a corrupt file
      if (only.nonEmpty && priorExists && priorEntries.isEmpty) {
        System.err.println("[scaling] scaling_exponents.json NOT " +
          "updated: the prior table exists but could not be parsed, " +
          "and this was a subset run — a merge would silently drop " +
          "every unmeasured entry; run the full sweep to re-establish " +
          "the table")
        spark.stop()
        sys.exit(1)
      }
      // MODE GUARD: entries measured on the generated ladder and on a
      // flat fixture base are different bases — merging them would
      // produce a table whose per-entry basis cannot be trusted. A
      // subset run on a different mode refuses; a FULL run replaces
      // the table, re-establishing it on this run's basis.
      val priorMode = readMode(priorJson)
      val modeMismatch = priorExists &&
        priorEntries.nonEmpty && priorMode.exists(_ != runMode)
      if (modeMismatch && only.nonEmpty) {
        System.err.println("[scaling] scaling_exponents.json NOT " +
          s"updated: the prior table was measured in '${priorMode.get}' " +
          s"mode and this subset run in '$runMode' mode — a merge would " +
          "mix measurement bases; run the FULL sweep to re-establish " +
          "the table on this basis")
        spark.stop()
        sys.exit(1)
      }
      val carried = if (modeMismatch) Map.empty[String, String]
        else priorEntries
      val qJson = (carried ++ freshEntries).toSeq.sortBy(_._1)
        .map { case (name, body) => s""""$name":$body""" }
        .mkString("{", ",", "}")
      val body = s"""{"sf_base":"$base","mode":"$runMode",""" +
        s""""cpus":$cpus,"runs":$runs,"queries":$qJson}""" + "\n"
      java.nio.file.Files.write(path, body.getBytes("UTF-8"))
      spark.stop()
    }
  }

  /** The scaled-partitions control evidence an entry records: the
    * partition count, how many rungs the control actually MEASURED
    * (a control that lost a rung cannot support a downgrade, and the
    * committed-table spec needs the real count, not an assumption),
    * its exponent, whether an unfit refusal was genuine flattening
    * ([[graft.plans.ScalingAudit.flattened]]) rather than sample
    * scatter — AND the control's own measured work/spread arrays
    * (its sizes are the entry's: same dirs, same primary table), so
    * ScalingTableSpec can RE-DERIVE exponent/flattened/points from
    * the recorded points exactly as it refits the primary fit. A
    * self-reported summary with no underlying points could be
    * hand-edited or go stale and still downgrade an over-bound
    * committed fit (the r11 ADVICE's laundering residual). */
  case class ControlRecord(partitions: Int, points: Int,
      exponent: Option[Double], flattened: Boolean,
      work: Seq[Double], spread: Seq[Double])

  /** The NO-BROADCAST mechanism control (join strategy held in the
    * shuffle regime on every rung): recorded for entries the
    * partition control could not exculpate, same evidence fields. */
  case class StrategyRecord(points: Int, exponent: Option[Double],
      flattened: Boolean, work: Seq[Double], spread: Seq[Double])

  /** One query's fit as a compact JSON object (optionally with the
    * name inlined, for the per-query progress lines; `rowsInfo` — the
    * regime pass's row volumes + row exponent — and `control` — the
    * scaled-partitions control fit — ride along for queries those
    * passes measured). `basis` is the ACTUAL measurement basis
    * ("flat" in legacy flat mode), not the ladder the entry would use
    * in ladder mode. */
  private def entryJson(name: String, f: ScalingAudit.ScalingFit,
      sizes: Seq[Long], basis: String, withName: Boolean = false,
      rowsInfo: Option[(Seq[Long], Option[Double])] = None,
      control: Option[ControlRecord] = None,
      strategy: Option[StrategyRecord] = None,
      rowsBound: Option[Double] = None,
      workFloor: Option[Double] = None,
      prefold: Option[(Double, Boolean)] = None): String = {
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val head = if (withName) s""""query":"$name",""" else ""
    val rowsPart = rowsInfo.map { case (rows, e) =>
      s""""rows":${rows.mkString("[", ",", "]")},"rows_exponent":${
        e.map(f3).getOrElse("null")},"""
    }.getOrElse("")
    // the recorded rows BOUND rides beside the measurement so the
    // committed table carries the gate's number, not a code-only map
    // a reader would have to cross-reference (ScalingTableSpec pins
    // the two equal)
    val rowsBoundPart = rowsBound
      .map(b => s""""rows_bound":${f3(b)},""").getOrElse("")
    // the floor-documented disposition (see floorBounds): the work
    // ceiling under which `exponent: null` is the committed verdict
    // "flat wall, linear rows", gated by ScalingAudit.floorFindings
    // and pinned to the code's map by ScalingTableSpec
    val floorPart = workFloor
      .map(w => s""""work_floor":${f3(w)},""").getOrElse("")
    // the strictly-last retry's one-sided fold, kept auditable: the
    // ORIGINAL over-bound exponent and whether the fold changed the
    // verdict (see the retry block in main)
    val prefoldPart = prefold.map { case (e, disagreed) =>
      s""""exponent_prefold":${f3(e)},"retry_disagreed":$disagreed,"""
    }.getOrElse("")
    val controlPart = control.map { c =>
      s""""control_partitions":${c.partitions},""" +
        s""""control_points":${c.points},""" +
        s""""control_flattened":${c.flattened},""" +
        s""""control_work":[${c.work.map(f3).mkString(",")}],""" +
        s""""control_work_spread":[${c.spread.map(f3).mkString(",")}],""" +
        s""""exponent_scaled_partitions":${
          c.exponent.map(f3).getOrElse("null")},"""
    }.getOrElse("")
    val strategyPart = strategy.map { c =>
      s""""nobroadcast_points":${c.points},""" +
        s""""nobroadcast_flattened":${c.flattened},""" +
        s""""nobroadcast_work":[${c.work.map(f3).mkString(",")}],""" +
        s""""nobroadcast_work_spread":[${c.spread.map(f3).mkString(",")}],""" +
        s""""exponent_no_broadcast":${
          c.exponent.map(f3).getOrElse("null")},"""
    }.getOrElse("")
    s"""{$head"table":"${primaryTable.getOrElse(queryOf(name), "")}",""" +
      s""""ladder":"$basis","sizes":${
        sizes.mkString("[", ",", "]")},"wall":[${
        f.points.map(p => f3(p.wallSec)).mkString(",")}],"work":[${
        f.points.map(p => f3(p.workSec)).mkString(",")}],""" +
      s""""work_spread":[${
        f.points.map(p => f3(p.workSpread)).mkString(",")}],""" +
      rowsPart + rowsBoundPart + floorPart + prefoldPart + controlPart +
      strategyPart +
      s""""exponent":${f.exponent.map(f3).getOrElse("null")}}"""
  }

  /** The prior table's header `mode` field ("ladder"/"flat"); None on
    * absence or parse failure (legacy tables predate the field). */
  def readMode(json: String): Option[String] = {
    import org.json4s._
    try {
      (org.json4s.jackson.JsonMethods.parse(json) \ "mode") match {
        case JString(s) => Some(s)
        case _          => None
      }
    } catch { case _: Throwable => None }
  }

  /** The prior table's per-query entries as compact-rendered raw JSON
    * (for the subset-run merge); empty on any parse failure — the
    * caller treats exists-but-empty as a refusal condition, not a
    * fresh start. */
  def readRawEntries(json: String): Map[String, String] = {
    import org.json4s._
    try {
      (org.json4s.jackson.JsonMethods.parse(json) \ "queries") match {
        case JObject(fields) => fields.map { case (name, v) =>
          name -> org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(v))
        }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }
  }

  /** Recorded per-query exponents out of `scaling_exponents.json`
    * (fitted entries only). */
  def readTable(json: String): Map[String, Double] = {
    import org.json4s._
    try {
      (org.json4s.jackson.JsonMethods.parse(json) \ "queries") match {
        case JObject(fields) => fields.collect {
          case (name, JObject(body)) =>
            body.collectFirst {
              case ("exponent", JDouble(e))  => name -> e
              case ("exponent", JInt(e))     => name -> e.toDouble
              case ("exponent", JDecimal(e)) => name -> e.toDouble
            }
        }.flatten.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }
  }
}
