package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Harness, Tables}

/** Q23 family — similarity search over the `embeddings` table
  * (SURVEY.md §2.4 north star).
  *
  * Cosine is computed with a strict left-to-right fold over double-cast
  * elements, which both Spark (`aggregate`/`zip_with`) and DuckDB
  * (`list_reduce`/`list_transform`) evaluate identically — results are
  * bit-exact across engines, so even top-k rank order is oracle-safe.
  */
object SimilarityOps {

  /** array<float> → array<double> (element-wise IEEE-exact widening). */
  def toDoubleVec(c: Column): Column =
    transform(c, x => x.cast("double"))

  /** Left-to-right dot product as a native codegen'd Expression
    * (graft.functions.DotProduct): identical fold order to the
    * `aggregate(zip_with(...))` form it replaces (and to DuckDB's
    * `list_reduce`), but the loop compiles into whole-stage codegen
    * instead of paying the higher-order-lambda interpreter per element —
    * this sits inside O(n²) pair joins, so it's the hottest kernel in the
    * engine. */
  def dotExpr(a: Column, b: Column): Column = graft.functions.native.dot(a, b)

  /** ||v|| with the same fold order (Σx² ≡ dot(v, v) term-for-term). */
  def normExpr(v: Column): Column = sqrt(dotExpr(v, v))

  private def normalized(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), toDoubleVec(col("embedding"))
        .as("v"))
      .withColumn("nrm", normExpr(col("v")))

  // ------------------------------------------------------------- brute
  /** Exact top-5 cosine neighbors for query vectors (vec_id < 10) via
    * broadcast of the query set against the partitioned candidate side —
    * the correctness baseline for ANN. At 100 TB the candidates stay
    * partitioned; only the (small) query set is replicated, and each
    * partition keeps a local top-k before the final k-way merge
    * (window over ≤ k×partitions rows). */
  def q23_knn_exact(s: SparkSession, dir: String): DataFrame = {
    val e = normalized(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm")))
    val cand = e.select(col("vec_id").as("cand_id"), col("v").as("cv"),
      col("nrm").as("c_nrm"))
    val scored = cand.join(q, col("cand_id") =!= col("q_id"))
      .withColumn("cos",
        dotExpr(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "cand_id", "cos")
      .orderBy("q_id", "rk")
  }

  val q23ExactSql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
      |  FROM e),
      |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |    list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1]*p[2]),
      |      (x,y) -> x+y) / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
      |rk AS (SELECT q_id, cand_id, cos, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
      |  FROM scored)
      |SELECT q_id, CAST(rk AS INT) AS rk, cand_id, cos
      |FROM rk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  // ------------------------------------------------------------- range
  /** RADIUS SEARCH (q23_range) — every candidate within cosine ≥ 0.3 of
    * each query vector, the fixed-threshold sibling of q23_knn_exact's
    * top-k (dedup wants "everything closer than τ", not "the 5
    * closest"): same broadcast-query / partitioned-candidate shape and
    * the same codegen dot kernel, but the selection is a map-side
    * PREDICATE — no ranking window at all, so nothing is sorted and the
    * only shuffle is the output ORDER BY. The IVF/LSH variants
    * (q23_knn_ivf/_lsh) bolt onto this unchanged when τ admits bucket
    * pruning. */
  def q23_range(s: SparkSession, dir: String): DataFrame = {
    val e = normalized(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm")))
    e.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("c_nrm"))
      .join(q, col("cand_id") =!= col("q_id"))
      .withColumn("cos",
        dotExpr(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
      .filter(col("cos") >= 0.3)
      .select("q_id", "cand_id", "cos")
      .orderBy("q_id", "cand_id")
  }

  val q23RangeSql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
      |  FROM e),
      |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |    list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1]*p[2]),
      |      (x,y) -> x+y) / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
      |SELECT q_id, cand_id, cos FROM scored
      |WHERE cos >= 0.3 ORDER BY q_id, cand_id""".stripMargin

  // ----------------------------------------------------------- hardneg
  /** HARD-NEGATIVE MINING: for each query, the top-5 most-similar
    * candidates with a DIFFERENT label — the contrastive-training
    * counterpart of q23_knn_exact (the negatives that sit closest to
    * the decision boundary are the ones worth training on; random
    * negatives are too easy to move an embedding). Same broadcast-query
    * / partitioned-candidate shape; the label-inequality predicate
    * rides the join condition so rejected pairs never materialize. */
  def q23_hardneg(s: SparkSession, dir: String): DataFrame = {
    val e = normalized(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("q_nrm")))
    val cand = e.select(col("vec_id").as("cand_id"),
      col("label").as("c_label"), col("v").as("cv"), col("nrm").as("c_nrm"))
    val scored = cand.join(q, col("c_label") =!= col("q_label"))
      .withColumn("cos",
        dotExpr(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("q_id", "q_label", "rk", "cand_id", "c_label", "cos")
      .orderBy("q_id", "rk")
  }

  val q23HardnegSql: String =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
      |  FROM e),
      |scored AS (SELECT q.vec_id AS q_id, q.label AS q_label,
      |    c.vec_id AS cand_id, c.label AS c_label,
      |    list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1]*p[2]),
      |      (x,y) -> x+y) / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 10 AND c.label != q.label),
      |rk AS (SELECT q_id, q_label, cand_id, c_label, cos, ROW_NUMBER()
      |    OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
      |  FROM scored)
      |SELECT q_id, q_label, CAST(rk AS INT) AS rk, cand_id, c_label, cos
      |FROM rk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  // --------------------------------------------------------------- ivf
  /** IVF-style partitioned search: `label` plays the role of the coarse
    * quantizer cell; each query searches only its own cell. Exact within
    * the cell → still oracle-checkable. At scale, cells are the shuffle
    * partitioning, so each probe touches 1/|cells| of the data. */
  def q23_knn_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = normalized(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("q_nrm")))
    val cand = e.select(col("vec_id").as("cand_id"), col("label"),
      col("v").as("cv"), col("nrm").as("c_nrm"))
    val scored = cand.join(q,
        col("label") === col("q_label") && col("cand_id") =!= col("q_id"))
      .withColumn("cos",
        dotExpr(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "cand_id", "cos")
      .orderBy("q_id", "rk")
  }

  val q23IvfSql: String =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
      |  FROM e),
      |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |    list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1]*p[2]),
      |      (x,y) -> x+y) / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 10 AND c.label = q.label
      |    AND c.vec_id != q.vec_id),
      |rk AS (SELECT q_id, cand_id, cos, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk
      |  FROM scored)
      |SELECT q_id, CAST(rk AS INT) AS rk, cand_id, cos
      |FROM rk WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin

  // --------------------------------------------------------------- lsh
  /** Random-hyperplane LSH: 64-bit sign signature per vector from
    * deterministic pseudo-random hyperplanes; candidates share a signature
    * in at least one of 16 4-bit bands; exact re-rank of candidates.
    * Approximate by DESIGN but deterministic in IMPLEMENTATION, so it
    * still hash-checks: q23LshSql re-derives the splitmix64 hyperplanes,
    * the sign bits, the banding, and the candidate re-rank in DuckDB —
    * bit-identical doubles because both engines fold vectors in element
    * order. The ScalaTest recall bound stays as the semantic check.
    *
    * Band/recall trade-off (mirroring the MinHash miss-bound argument in
    * DedupOps): P(bit agrees) = 1 − θ/π, so a neighbor at angle θ
    * collides in one 4-bit band with p⁴ and in ≥1 of L bands with
    * 1−(1−p⁴)^L. The band count is sized to the FIXTURE's similarity
    * level, which is brutally low — near-random 64-dim vectors whose
    * true top-5 sit at cos 0.26–0.39 (p ≈ 0.58, barely above the 0.5 of
    * a random pair) — so L = 16 is needed for mean recall@5 ≥ 0.8
    * (measured 0.88; 8 bands measured 0.52). The flip side
    * is selectivity: at p_random = 0.5 a random pair collides somewhere
    * with 1−(1−1/16)^16 ≈ 0.64, so on THIS corpus the band join admits
    * most pairs — unavoidable when neighbors are barely closer than
    * noise (the LSH exponent ρ → 1 as p₁ → p₂). On a production corpus
    * with real neighbor structure (cos ≥ 0.7, p ≥ 0.75), the same 16
    * bands give ~0.998 recall and the candidate rate stays the wide-join
    * escape it's meant to be; drop to 4–8 bands there to cut shuffle.
    *
    * The 100 TB path: the band join and the candidate-pair dedup move
    * NARROW (vec_id, band, band_val) rows only — 16 ~12-byte rows per
    * vector, never the 512-byte vectors themselves (shipping vectors
    * through the explode/join/distinct was measured 40× slower at sf0.1);
    * each surviving candidate id joins its vector back exactly once for
    * the re-rank. Band count scales the narrow linear term, the price of
    * the recall bar at the corpus's similarity level. */
  def q23_knn_lsh(s: SparkSession, dir: String): DataFrame = {
    val nBits = 64
    // The whole 64-bit hyperplane signature builds in ONE row-local
    // native kernel call (graft.functions.HyperplaneBands — deterministic
    // splitmix64 ±1 planes, 4 sign bits per band value). The previous
    // interpreted aggregate-over-zip_with form cost ~24 ms PER ROW (a
    // 2000-vector corpus spent 48 s in a single task), and an unrolled
    // 64-branch CASE/graft_dot form produced a ~100 KB expression tree
    // that janino took seconds to compile per subtree.
    // Only (vec_id, band, band_val) leaves this block.
    def sigsOf(in: DataFrame): DataFrame =
      in.select(col("vec_id"),
        posexplode(graft.functions.native.hyperplaneBands(col("v"), nBits, 4))
          .as(Seq("band", "band_val")))
    val base = normalized(s, dir).drop("label")
    // the query-side signature subtree computes 10 signatures, not the
    // corpus's (the broadcast branch would otherwise re-run the whole
    // signature stage single-task); the corpus side is repartitioned
    // because the test parquet is one file = one input partition (a real
    // cluster scan arrives pre-split)
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sigs = sigsOf(base.repartition(n))
    val qSigs = broadcast(sigsOf(base.filter(col("vec_id") < 10))
      .select(col("vec_id").as("q_id"), col("band").as("band_q"),
        col("band_val").as("band_val_q")))
    // narrow candidate generation: ids only through join + distinct
    val candIds = sigs.join(qSigs,
        col("band") === col("band_q") &&
        col("band_val") === col("band_val_q") &&
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id")).distinct()
    // vectors rejoin by id exactly once per surviving candidate
    val qVecs = broadcast(base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm")))
    val pairs = candIds
      .join(base.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("c_nrm")), "cand_id")
      .join(qVecs, "q_id")
      .withColumn("cos",
        dotExpr(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("cand_id"))
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "cand_id", "cos")
      .orderBy("q_id", "rk")
  }

  // -------------------------------------------------------------- MMR
  /** MAXIMAL MARGINAL RELEVANCE diversified top-k (Carbonell &
    * Goldstein, SIGIR'98) — the re-ranking step between ANN retrieval
    * and a RAG context window: from each query's top-8 cosine
    * candidates, pick 3 greedily by score = 2·rel − max-sim-to-already-
    * picked (λ = 2/3 in thirds), so near-duplicate neighbors stop
    * crowding out coverage. Greedy selection is inherently sequential,
    * but k is a CONSTANT — the three steps unroll into three
    * candidate-scale stages (≤ 8 rows per query each), every dot
    * product through the same codegen kernel and fold order as
    * q23_knn_exact, every stage a q_id-keyed window over the tiny
    * candidate table. The corpus is touched exactly once (the
    * candidate scan); everything after is retrieval-scale. Ties break
    * on cand_id so both engines pick identically. */
  def q23_mmr(s: SparkSession, dir: String): DataFrame =
    mmrOf(normalized(s, dir))

  /** Core over a (vec_id, v, nrm) frame — exposed so specs can plant a
    * duplicate-candidate geometry (the case where MMR's re-rank
    * actually diverges from plain top-k). */
  private[graft] def mmrOf(e: DataFrame): DataFrame = {
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm")))
    val wRel = Window.partitionBy("q_id")
      .orderBy(col("rel").desc, col("cand_id"))
    val cand = e.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("c_nrm"))
      .join(q, col("cand_id") =!= col("q_id"))
      .withColumn("rel",
        dotExpr(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(wRel))
      .filter(col("rk") <= 8)
      .select("q_id", "cand_id", "cv", "c_nrm", "rel")
      .localCheckpoint() // three stages fan out of the tiny table
    def pairCos(av: Column, an: Column, bv: Column, bn: Column): Column =
      dotExpr(av, bv) / (an * bn)
    val s1 = cand
      .withColumn("rk", row_number().over(wRel)).filter(col("rk") === 1)
      .select(col("q_id"), col("cand_id").as("s1_id"),
        col("cv").as("s1v"), col("c_nrm").as("s1_nrm"),
        col("rel").as("s1_rel"))
    val rest = cand.join(broadcast(s1), "q_id")
      .filter(col("cand_id") =!= col("s1_id"))
      .withColumn("div1",
        pairCos(col("cv"), col("c_nrm"), col("s1v"), col("s1_nrm")))
    val w2 = Window.partitionBy("q_id")
      .orderBy((lit(2.0) * col("rel") - col("div1")).desc, col("cand_id"))
    val s2 = rest.withColumn("rk2", row_number().over(w2))
      .filter(col("rk2") === 1)
      .select(col("q_id"), col("cand_id").as("s2_id"),
        col("cv").as("s2v"), col("c_nrm").as("s2_nrm"),
        col("rel").as("s2_rel"), col("div1").as("s2_div"))
    val rest2 = rest.join(broadcast(s2.select("q_id", "s2_id", "s2v",
        "s2_nrm")), "q_id")
      .filter(col("cand_id") =!= col("s2_id"))
      .withColumn("div2", greatest(col("div1"),
        pairCos(col("cv"), col("c_nrm"), col("s2v"), col("s2_nrm"))))
    val w3 = Window.partitionBy("q_id")
      .orderBy((lit(2.0) * col("rel") - col("div2")).desc, col("cand_id"))
    val s3 = rest2.withColumn("rk3", row_number().over(w3))
      .filter(col("rk3") === 1)
      .select(col("q_id"), col("cand_id").as("s3_id"),
        col("rel").as("s3_rel"), col("div2").as("s3_div"))
    s1.select(col("q_id"), lit(1).as("pick"), col("s1_id").as("cand_id"),
        col("s1_rel").as("rel"), lit(0.0).as("div_max"))
      .unionAll(s2.select(col("q_id"), lit(2).as("pick"),
        col("s2_id").as("cand_id"), col("s2_rel").as("rel"),
        col("s2_div").as("div_max")))
      .unionAll(s3.select(col("q_id"), lit(3).as("pick"),
        col("s3_id").as("cand_id"), col("s3_rel").as("rel"),
        col("s3_div").as("div_max")))
      .withColumn("score", lit(2.0) * col("rel") - col("div_max"))
      .orderBy("q_id", "pick")
  }

  val q23MmrSql: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b))
      |      AS nrm
      |  FROM e),
      |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, c.v AS cv,
      |    c.nrm AS c_nrm,
      |    list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1]*p[2]),
      |      (x,y) -> x+y) / (q.nrm * c.nrm) AS rel
      |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id != q.vec_id),
      |cand AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
      |      PARTITION BY q_id ORDER BY rel DESC, cand_id) AS rk
      |    FROM scored) WHERE rk <= 8),
      |s1 AS (SELECT q_id, cand_id AS s1_id, cv AS s1v, c_nrm AS s1_nrm,
      |    rel AS s1_rel FROM cand WHERE rk = 1),
      |rest AS (SELECT c.*,
      |    list_reduce(list_transform(list_zip(c.cv, s1.s1v),
      |      p -> p[1]*p[2]), (x,y) -> x+y) / (c.c_nrm * s1.s1_nrm) AS div1
      |  FROM cand c JOIN s1 ON s1.q_id = c.q_id
      |  WHERE c.cand_id != s1.s1_id),
      |s2 AS (SELECT q_id, cand_id AS s2_id, cv AS s2v, c_nrm AS s2_nrm,
      |    rel AS s2_rel, div1 AS s2_div FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY 2.0 * rel - div1 DESC, cand_id) AS rk2 FROM rest)
      |  WHERE rk2 = 1),
      |rest2 AS (SELECT r.*, GREATEST(r.div1,
      |    list_reduce(list_transform(list_zip(r.cv, s2.s2v),
      |      p -> p[1]*p[2]), (x,y) -> x+y) / (r.c_nrm * s2.s2_nrm))
      |      AS div2
      |  FROM rest r JOIN s2 ON s2.q_id = r.q_id
      |  WHERE r.cand_id != s2.s2_id),
      |s3 AS (SELECT q_id, cand_id AS s3_id, rel AS s3_rel, div2 AS s3_div
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY 2.0 * rel - div2 DESC, cand_id) AS rk3 FROM rest2)
      |  WHERE rk3 = 1),
      |u AS (
      |  SELECT q_id, 1 AS pick, s1_id AS cand_id, s1_rel AS rel,
      |    0.0 AS div_max FROM s1
      |  UNION ALL SELECT q_id, 2, s2_id, s2_rel, s2_div FROM s2
      |  UNION ALL SELECT q_id, 3, s3_id, s3_rel, s3_div FROM s3)
      |SELECT q_id, pick, cand_id, rel, div_max,
      |  2.0 * rel - div_max AS score
      |FROM u ORDER BY q_id, pick""".stripMargin

  // ---------------------------------------------------------- centroid
  /** Per-label centroid accumulators: element-wise vector sums per label
    * — the k-means/IVF training step. posexplode → groupBy(label, idx)
    * is the right 100 TB shape because of map-side partial aggregation:
    * the shuffle carries one (label, idx, partial) row per partition,
    * i.e. |labels| × dim rows, regardless of corpus size. Values are
    * quantized to integer micro-units (floor(x · 10⁶)) so the sum is
    * order-independent and integer-exact in both engines — a production
    * centroid would sum doubles and accept run-to-run non-determinism,
    * or Kahan-sum; the quantization exists for the oracle, not the
    * algorithm. Output: (label, idx, n, sum in micro-units). */
  def q23_centroid(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .groupBy("label", "idx")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 1000000d).cast("long"))
          .as("sum_micro"))
      .orderBy("label", "idx")

  val q23CentroidSql: String =
    """SELECT label, CAST(i.idx AS INT) AS idx, count(*) AS n,
      |  CAST(SUM(CAST(FLOOR(CAST(embedding[i.idx + 1] AS DOUBLE) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS sum_micro
      |FROM embeddings, (SELECT unnest(range(64)) AS idx) i
      |GROUP BY 1, 2
      |ORDER BY label, idx""".stripMargin

  // -------------------------------------------------------------- gram
  /** Upper-triangle GRAM MATRIX accumulation (XᵀX + row count) — the
    * distributed step of embedding whitening / PCA: covariance follows
    * from (Σxᵢxⱼ, Σxᵢ, n), and the 64×64 eigendecomposition that
    * finishes the job is O(dim³) driver-side work on this one tiny
    * result — data never moves for it. Each vector folds ROW-LOCALLY
    * into a flat long[2081] buffer through the native
    * `graft.functions.GramAggregate` kernel (2080 multiply-adds per
    * row inside the aggregate's update, zero per-row allocation);
    * buffers merge element-wise, so the exchange carries ONE
    * dimension-scale buffer per partition, never corpus-scale rows —
    * and unlike the declarative nested-transform + explode + groupBy
    * form this never materializes |rows|·2080 aggregation inputs
    * (measured 2.7s → sub-second at sf0.1).
    *
    * Exactness: components quantize to 10⁻⁴ units (ints ≤10⁴ for
    * unit-norm components), so each product ≤10⁸ and the int64 sum has
    * headroom past 10¹⁰ rows — order-independent and bit-identical in
    * both engines; a production pass would sum doubles (the
    * quantization serves the oracle, the shape is the algorithm). */
  def q23_gram(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(expr("transform(embedding," +
        " x -> cast(floor(cast(x as double) * 10000) as bigint))").as("q"))
      .agg(graft.functions.native.gramAgg(col("q"), 64).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.n").as("n"),
        col("c.s_e8").as("s_e8"))
      .orderBy("i", "j")

  val q23GramSql: String =
    """WITH q AS (SELECT list_transform(embedding,
      |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
      |  FROM embeddings),
      |p AS (SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
      |        q.e[i.i + 1] * q.e[j.j + 1] AS p
      |      FROM q, (SELECT unnest(range(64)) AS i) i,
      |        (SELECT unnest(range(64)) AS j) j
      |      WHERE j.j >= i.i)
      |SELECT i, j, COUNT(*) AS n, CAST(SUM(p) AS BIGINT) AS s_e8
      |FROM p GROUP BY 1, 2
      |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------- quantize
  /** Int8 max-abs quantization of the embedding column — the standard
    * 4× memory cut before an ANN index is built at scale (the float
    * vectors stay in cold storage; search runs over int8 + one scale
    * per vector). Every float step is IEEE-identical in both engines:
    * double-widen, (x / scale) * 127 left-to-right, round-half-away-
    * from-zero, so the quantized codes — and the reconstruction-error
    * audit column — are bit-exact vs the oracle. A zero vector keeps
    * scale 0 and all-zero codes.
    *
    * Scale: row-local `transform` expressions, no shuffle. */
  def q23_quantize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .withColumn("v", toDoubleVec(col("embedding")))
      .withColumn("scale", array_max(transform(col("v"), abs(_))))
    e.withColumn("q", transform(col("v"), x =>
        when(col("scale") === 0d, lit(0))
          .otherwise(round(x / col("scale") * 127).cast("int"))))
      .withColumn("max_abs_err", array_max(zip_with(col("v"), col("q"),
        (x, qi) => abs(x - qi.cast("double") * col("scale") / 127))))
      .select(col("vec_id"),
        array_join(transform(col("q"), _.cast("string")), ",")
          .as("codes"),
        col("scale"), col("max_abs_err"))
      .orderBy("vec_id")
  }

  val q23QuantizeSql: String =
    """WITH d AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |s AS (SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) AS scale FROM d),
      |q AS (SELECT vec_id, v, scale,
      |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0
      |      ELSE CAST(round(x / scale * 127) AS INTEGER) END) AS qv
      |  FROM s)
      |SELECT vec_id, array_to_string(qv, ',') AS codes, scale,
      |  list_max(list_transform(range(1, len(v) + 1),
      |    i -> abs(v[i] - CAST(qv[i] AS DOUBLE) * scale / 127)))
      |    AS max_abs_err
      |FROM q ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------ kmeans
  /** Two full Lloyd iterations (assign → update, twice) over the
    * embeddings — the iterative clustering loop `q23_centroid` is one
    * step of, run end-to-end. All arithmetic is integer: vectors are
    * quantized once to SHIFTED micro-units (⌊x·10⁶⌋ + 2·10⁶ — unit-norm
    * components land in [10⁶, 3·10⁶], so every value is positive and
    * truncating division IS floor division in both engines), distances
    * are exact ⌺²-sums of longs, and centroid updates are `sum div n`.
    * Both engines therefore agree bit-for-bit on assignments, cluster
    * sizes, and centroids — ties break to the lowest centroid id.
    *
    * Scale shape per iteration — the part that matters at 100 TB:
    *   - assignment is ROW-LOCAL: the k current centroids travel as a
    *     LITERAL array (k·dim longs — the driver collects k×64 values,
    *     never data), so there is no join and no shuffle to assign;
    *   - update is posexplode → groupBy(cid, idx): map-side partial
    *     aggregation makes the shuffle k·dim rows per partition
    *     regardless of corpus size (same argument as q23_centroid);
    *   - the input is localCheckpoint'd once: 2 iterations × 2 passes
    *     would otherwise re-read + re-quantize the corpus 4×, and the
    *     lineage (hence plan) stays flat however many iterations run.
    * An emptied cluster simply drops out (its id never reappears);
    * overflow headroom: Σ(micro²·dim) stays under 2⁶³ past 10¹² rows. */
  def q23_kmeans(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val v = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> " +
          "cast(floor(cast(x as double) * 1000000) as bigint) + 2000000)")
        .as("vm"))
      .localCheckpoint()
    // deterministic init: the k smallest vec_ids, cid = rank in vec_id
    // order (k rows to the driver — the init, not the data)
    var centroids: Seq[(Long, Seq[Long])] =
      v.orderBy("vec_id").limit(k).select("vm").collect()
        .map(_.getSeq[Long](0)).toSeq.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }

    def update(assigned: DataFrame): DataFrame = assigned
      .select(col("cid"), posexplode(col("vm")).as(Seq("idx", "x")))
      .groupBy("cid", "idx")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .withColumn("cm", expr("sx div n"))

    def iterate(cs: Seq[(Long, Seq[Long])]): DataFrame = {
      val cidLit = array(cs.map(c => lit(c._1)): _*)
      val cmLit = array(cs.map(c => array(c._2.map(lit): _*)): _*)
      update(v
        .withColumn("dists", transform(cmLit, cv =>
          aggregate(zip_with(col("vm"), cv, (a, b) => (a - b) * (a - b)),
            lit(0L), _ + _)))
        // first occurrence of the min → lowest cid wins ties
        .withColumn("cid", element_at(cidLit,
          array_position(col("dists"), array_min(col("dists"))).cast("int"))))
    }
    // collect centroids BETWEEN iterations only (k·dim values): the
    // final iteration stays a lazy plan — collecting it too would run
    // one whole extra corpus pass for a result nobody reads
    for (_ <- 1 until 2) {
      centroids = iterate(centroids).select("cid", "idx", "cm").collect()
        .groupBy(_.getLong(0)).toSeq
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
        }.sortBy(_._1)
    }
    iterate(centroids).groupBy("cid")
      .agg(min(col("n")).as("n"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("cm")))),
          p => p.getField("cm").cast("string")), ",").as("centroid"))
      .orderBy("cid")
  }

  val q23KmeansSql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
      |         + 2000000) AS vm
      |  FROM embeddings),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
      |    AS cid, vm
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
      |d1 AS (SELECT v.vec_id, v.vm, c.cid,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (v.vm[i] - c.vm[i]) * (v.vm[i] - c.vm[i]))) AS dist
      |  FROM v, c0 c),
      |a1 AS (SELECT vec_id, vm, cid FROM (SELECT *, row_number()
      |    OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
      |  WHERE rn = 1),
      |u1 AS (SELECT cid, i.idx, count(*) AS n,
      |    CAST(sum(vm[i.idx]) AS BIGINT) // count(*) AS cm
      |  FROM a1, (SELECT unnest(range(1, 65)) AS idx) i
      |  GROUP BY cid, i.idx),
      |c1 AS (SELECT cid, list(cm ORDER BY idx) AS vm FROM u1 GROUP BY cid),
      |d2 AS (SELECT v.vec_id, v.vm, c.cid,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (v.vm[i] - c.vm[i]) * (v.vm[i] - c.vm[i]))) AS dist
      |  FROM v, c1 c),
      |a2 AS (SELECT vec_id, vm, cid FROM (SELECT *, row_number()
      |    OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2)
      |  WHERE rn = 1),
      |u2 AS (SELECT cid, i.idx, count(*) AS n,
      |    CAST(sum(vm[i.idx]) AS BIGINT) // count(*) AS cm
      |  FROM a2, (SELECT unnest(range(1, 65)) AS idx) i
      |  GROUP BY cid, i.idx)
      |SELECT cid, min(n) AS n,
      |  array_to_string(list(CAST(cm AS VARCHAR) ORDER BY idx), ',')
      |    AS centroid
      |FROM u2 GROUP BY cid ORDER BY cid""".stripMargin

  // ---------------------------------------------------------------- pq
  /** Product quantization + ADC search (Jégou et al., TPAMI'11) — the
    * memory layout every billion-vector ANN index actually serves from:
    * each 64-dim vector is split into m = 8 subspaces of 8 dims, each
    * subvector replaced by the id of its nearest codebook entry (k = 16
    * per subspace), so a candidate travels as EIGHT 4-bit codes instead
    * of 64 floats (64× smaller). A query computes one 8×16 distance
    * table against the codebooks, then scores any candidate with 8
    * table lookups — asymmetric distance computation — never touching
    * the original vectors.
    *
    * All arithmetic runs in the q23_kmeans shifted micro-int space, so
    * encode ties (lowest code wins), ADC sums, and the final ranking are
    * integer-exact in both engines. Codebooks are the k smallest
    * vec_ids' subvectors (deterministic init, the q23_kmeans convention;
    * a production index would Lloyd-refine them — q23_kmeans IS that
    * loop, run per subspace).
    *
    * Scale shape: the codebook is k·dim literals (collected once — an
    * init, not data); ENCODING is row-local against those literals (no
    * join, no shuffle — same argument as the k-means assign step); the
    * ADC join broadcasts 10 query rows each carrying its 8×16 table,
    * while the corpus side ships only (vec_id, 8 codes) — the narrow-row
    * discipline the LSH pipeline established, taken to its limit. */
  def q23_pq(s: SparkSession, dir: String): DataFrame = {
    val (enc, q) = pqPrep(s, dir, carry = Nil)
    adcTopK(enc, q.select(col("vec_id").as("q_id"), col("qtab")),
      col("vec_id") =!= col("q_id"), kTop = 5)
  }

  /** Shared PQ preparation (q23_pq / q23_ivfpq must stay in lockstep —
    * same micro-int space, codebook init, kernel encode, and broadcast
    * query-table build): returns the encoded corpus (vec_id [, carry],
    * codes) and the query rows (vec_id [, carry], qtab) still
    * un-broadcast so callers shape the query side. Codebook init: the
    * k = 16 smallest vec_ids' subvectors (deterministic, the q23_kmeans
    * convention; m = 8 subspaces of 8 dims). The codebook rides the
    * kernel expression object (≈8 KB), not the plan — the literal-tree
    * + interpreted-lambda form cost 3.6 s at sf0.1 and a 1.8 MB task
    * binary; the kernels run the same integer loops compiled, with the
    * identical lowest-code tie-break (strict <). */
  private def pqPrep(s: SparkSession, dir: String,
      carry: Seq[String]): (DataFrame, DataFrame) = {
    val m = 8; val k = 16; val sub = 8
    val v = Tables.load(s, dir, "embeddings")
      .select(col("vec_id") +: carry.map(col) :+ expr(
        "transform(embedding, x -> " +
          "cast(floor(cast(x as double) * 1000000) as bigint) + 2000000)")
        .as("vm"): _*)
    val cb: Seq[Seq[Seq[Long]]] = {
      val init = v.orderBy("vec_id").limit(k).select("vm").collect()
        .map(_.getSeq[Long](0).toIndexedSeq)
      (0 until m).map(sp => init.toSeq.map(_.slice(sp * sub, (sp + 1) * sub)))
    }
    val enc = v.withColumn("codes",
      graft.functions.native.pqEncode(col("vm"), cb)).drop("vm")
    val q = v.filter(col("vec_id") < 10)
      .withColumn("qtab", graft.functions.native.pqDistTable(col("vm"), cb))
      .drop("vm")
    (enc, q)
  }

  /** Shared ADC scoring + per-query top-k: broadcast the (tiny) query
    * side, score each candidate's 8 codes against the query's table
    * with row-local lookups, rank with the deterministic
    * (adc_dist, cand_id) tiebreak. */
  private def adcTopK(enc: DataFrame, q: DataFrame,
      joinCond: org.apache.spark.sql.Column, kTop: Int): DataFrame = {
    val scored = enc.join(broadcast(q), joinCond)
      .withColumn("adc_dist",
        aggregate(zip_with(col("codes"), col("qtab"),
          (c, row) => element_at(row, c + 1)), lit(0L), _ + _))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adc_dist"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kTop)
      .select(col("q_id"), col("rk"), col("vec_id").as("cand_id"),
        col("adc_dist"))
      .orderBy("q_id", "rk")
  }

  /** IVF-PQ — the two q23 scale techniques composed the way a real
    * billion-vector index serves queries (the FAISS IVFPQ layout): the
    * coarse quantizer (the `label` cell, as in q23_knn_ivf) restricts
    * each query to 1/|cells| of the corpus, and within the cell
    * candidates are scored from their 8 PQ codes against the query's
    * broadcast ADC table (as in q23_pq) — so the probe reads narrow
    * code rows from one cell, never a full vector. Same codebook init
    * and integer space as q23_pq; top-3 per query like q23_knn_ivf.
    *
    * Scale: the cell is the shuffle partitioning of the code table;
    * the join is an equi join on the cell id with the 10-row query side
    * (each row carrying its 8×16 table) broadcast. */
  def q23_ivfpq(s: SparkSession, dir: String): DataFrame = {
    val (enc, q) = pqPrep(s, dir, carry = Seq("label"))
    adcTopK(enc,
      q.select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("qtab")),
      col("label") === col("q_label") && col("vec_id") =!= col("q_id"),
      kTop = 3)
  }

  val q23IvfPqSql: String =
    """WITH v AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
      |         + 2000000) AS vm
      |  FROM embeddings),
      |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
      |    AS j, vm
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)),
      |d AS (SELECT v.vec_id, v.label, s.s, cb.j,
      |    CAST(list_sum(list_transform(range(1, 9),
      |      i -> (v.vm[s.s*8 + i] - cb.vm[s.s*8 + i])
      |         * (v.vm[s.s*8 + i] - cb.vm[s.s*8 + i]))) AS BIGINT) AS dist
      |  FROM v, range(8) s(s), cb),
      |enc AS (SELECT vec_id, label, s, j AS code FROM (SELECT *,
      |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j)
      |      AS rn FROM d)
      |  WHERE rn = 1),
      |adc AS (SELECT dq.vec_id AS q_id, e.vec_id AS cand_id,
      |    CAST(SUM(dq.dist) AS BIGINT) AS adc_dist
      |  FROM enc e JOIN d dq ON dq.vec_id < 10 AND dq.s = e.s
      |    AND dq.j = e.code AND e.label = dq.label
      |    AND e.vec_id != dq.vec_id
      |  GROUP BY 1, 2),
      |rk AS (SELECT q_id, cand_id, adc_dist, row_number() OVER (
      |    PARTITION BY q_id ORDER BY adc_dist, cand_id) AS rk FROM adc)
      |SELECT q_id, CAST(rk AS INT) AS rk, cand_id, adc_dist
      |FROM rk WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin

  /** DuckDB PQ/ADC re-derivation. `d` serves double duty: rows with
    * vec_id ≥ 10 pick each vector's code per subspace (argmin), rows
    * with vec_id < 10 ARE the query distance tables the ADC join looks
    * up — the same dual use the Spark side gets from `distsCol`. */
  val q23PqSql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
      |         + 2000000) AS vm
      |  FROM embeddings),
      |cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
      |    AS j, vm
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)),
      |d AS (SELECT v.vec_id, s.s, cb.j,
      |    CAST(list_sum(list_transform(range(1, 9),
      |      i -> (v.vm[s.s*8 + i] - cb.vm[s.s*8 + i])
      |         * (v.vm[s.s*8 + i] - cb.vm[s.s*8 + i]))) AS BIGINT) AS dist
      |  FROM v, range(8) s(s), cb),
      |enc AS (SELECT vec_id, s, j AS code FROM (SELECT *, row_number()
      |    OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM d)
      |  WHERE rn = 1),
      |adc AS (SELECT dq.vec_id AS q_id, e.vec_id AS cand_id,
      |    CAST(SUM(dq.dist) AS BIGINT) AS adc_dist
      |  FROM enc e JOIN d dq ON dq.vec_id < 10 AND dq.s = e.s
      |    AND dq.j = e.code AND e.vec_id != dq.vec_id
      |  GROUP BY 1, 2),
      |rk AS (SELECT q_id, cand_id, adc_dist, row_number() OVER (
      |    PARTITION BY q_id ORDER BY adc_dist, cand_id) AS rk FROM adc)
      |SELECT q_id, CAST(rk AS INT) AS rk, cand_id, adc_dist
      |FROM rk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** Full DuckDB re-derivation of the LSH pipeline (see q23_knn_lsh
    * scaladoc). The only non-obvious piece is splitmix64 in SQL: DuckDB
    * integer ops ERROR on overflow instead of wrapping, so each 64×64-bit
    * multiply is decomposed hi/lo — (z_lo·M + ((z_hi·M) mod 2^32)·2^32)
    * mod 2^64 — keeping every intermediate inside HUGEINT; >> k is
    * integer division by 2^k (values are non-negative). Vector folds use
    * list_reduce over list_zip, left-to-right like the kernel's loop, so
    * the sign bits and the re-rank cosines are bit-identical. */
  val q23LshSql: String =
    """WITH
      |ix AS (SELECT b.b, d.d, CAST(b.b*64 + d.d AS HUGEINT) AS i
      |       FROM range(64) b(b), range(64) d(d)),
      |z0 AS (SELECT b, d,
      |    (i + 11400714819323264021) % 18446744073709551616 AS z FROM ix),
      |x1 AS (SELECT b, d, xor(z, z // 1073741824) AS x FROM z0),
      |z1 AS (SELECT b, d,
      |    ((x % 4294967296) * 13787848793156543929 +
      |     (((x // 4294967296) * 13787848793156543929) % 4294967296)
      |       * 4294967296) % 18446744073709551616 AS z FROM x1),
      |x2 AS (SELECT b, d, xor(z, z // 134217728) AS x FROM z1),
      |z2 AS (SELECT b, d,
      |    ((x % 4294967296) * 10723151780598845931 +
      |     (((x // 4294967296) * 10723151780598845931) % 4294967296)
      |       * 4294967296) % 18446744073709551616 AS z FROM x2),
      |mixv AS (SELECT b, d,
      |    CASE WHEN xor(z, z // 2147483648) % 2 = 0 THEN 1.0 ELSE -1.0 END
      |      AS pl
      |  FROM z2),
      |planes AS (SELECT b, list(pl ORDER BY d) AS pls FROM mixv GROUP BY b),
      |e AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b)->a+b)) AS nrm
      |  FROM e),
      |bits AS (SELECT n.vec_id, p.b,
      |    CASE WHEN list_reduce(
      |      list_transform(list_zip(n.v, p.pls), q -> q[1]*q[2]),
      |      (a,c)->a+c) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM n, planes p),
      |bands AS (SELECT vec_id, b // 4 AS band,
      |    CAST(SUM(bit * CAST(POWER(2, b % 4) AS INT)) AS INT) AS band_val
      |  FROM bits GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS cand_id
      |  FROM bands q JOIN bands c ON q.vec_id < 10 AND q.band = c.band
      |    AND q.band_val = c.band_val AND c.vec_id != q.vec_id),
      |scored AS (SELECT q_id, cand_id,
      |    list_reduce(list_transform(list_zip(nq.v, nc.v), p -> p[1]*p[2]),
      |      (x,y)->x+y) / (nq.nrm * nc.nrm) AS cos
      |  FROM cand JOIN n nq ON nq.vec_id = q_id
      |    JOIN n nc ON nc.vec_id = cand_id),
      |rk AS (SELECT q_id, cand_id, cos, ROW_NUMBER() OVER (
      |    PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rk FROM scored)
      |SELECT q_id, CAST(rk AS INT) AS rk, cand_id, cos
      |FROM rk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  // ----------------------------------------------------------------
  // -------------------------------------------------------- ivf layout
  /** IVF INDEX AT REST (q23_ivf_layout) — the q23_knn_ivf probe, but
    * with the inverted lists materialized as the table's PHYSICAL
    * layout: the corpus is written partitioned by cell (one directory
    * per inverted list), and the probe joins the broadcast query set on
    * the partition column, so Spark's dynamic partition pruning
    * restricts the scan to the probed cells' FILES — the unprobed 90%
    * of a 100 TB corpus is never read, which is the entire point of IVF
    * (the in-memory variant only avoids comparing; this avoids IO).
    * Same cells (= label), same scoring, same result as q23_knn_ivf —
    * the oracle is shared, proving layout ≡ logical op — and the DPP
    * plan shape is pinned by AuditPathsSpec. The layout is written
    * once per (JVM, dir) by `Harness.fixture`, a local-mode harness
    * construct: a cluster keeps its cell-partitioned corpus in shared
    * storage. */
  def q23_ivf_layout(s: SparkSession, dir: String): DataFrame = {
    val layout = Harness.fixture(s, "ivf", dir)(
      Tables.load(s, dir, "embeddings").write.partitionBy("label").parquet(_))
    val cells = s.read.parquet(layout)
      .select(col("vec_id").as("cand_id"), col("label"),
        toDoubleVec(col("embedding")).as("cv"))
      .withColumn("c_nrm", normExpr(col("cv")))
    // query side reads the ORIGINAL table: the probe must not scan the
    // layout it is trying to prune
    val q = broadcast(normalized(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("q_nrm")))
    val scored = cells.join(q,
        col("label") === col("q_label") && col("cand_id") =!= col("q_id"))
      .withColumn("cos",
        dotExpr(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("q_id", "rk", "cand_id", "cos")
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------- semdedup
  /** SEMANTIC DEDUPLICATION (SemDeDup, Abbas et al. 2023 — arXiv:
    * 2303.09540): cluster the embedding space, then hunt near-duplicate
    * pairs only WITHIN each cluster — the clustering bounds the
    * quadratic pair blast radius to Σ|cluster|² instead of n² (at 100 TB
    * you size k ≈ √n so each cluster is ~√n and total pair work is
    * ~n^1.5, the same budget as the q44 triangle orientation). Output:
    * the DROP LIST — every vector that has an earlier (lower-id)
    * same-cluster vector with cosine ≥ 0.35, with its keeper and the
    * similarity that condemned it ("keep the earliest" is SemDeDup's
    * deterministic representative rule; q22_dedup_keep_best is the
    * quality-aware alternative).
    *
    * Shapes: assignment is ROW-LOCAL against k literal centroids
    * (integer micro-space distances, the q23_kmeans convention — both
    * engines agree bit-for-bit); within-cluster pairs ride the
    * triangular block-bucket join of q22_dedup_embed but keyed on
    * (cid, bucket), so a big cluster spreads over |blocks|²/2 tasks
    * instead of one reducer; cosine is the shared native-kernel fold
    * (identical IEEE order in both engines). The 0.35 threshold is
    * calibrated to the fixture's near-random vectors (true neighbors
    * sit at cos 0.26–0.39 — see the q23_knn_lsh band-sizing note); a
    * production corpus with real duplicate structure uses ~0.9.
    *
    * Growth stance: THIS entry pins k = 8, so its pair term is
    * Θ(n²/k) — quadratic by definition once n grows past the constant
    * k (the scaling sweep measures it on the vec ladder under a
    * documented definitional bound, like q22_dedup_embed). The k ≈ √n
    * sizing that makes the design Θ(n^1.5) is the adaptive twin
    * ([[q23_semdedup_adaptive]]) — that entry, not this one, carries
    * the 100 TB claim. */
  def q23_semdedup(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val nBlocks = 8
    val vq = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> " +
          "cast(floor(cast(x as double) * 1000000) as bigint) + 2000000)")
          .as("vm"),
        toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", normExpr(col("v")))
      .localCheckpoint() // init collect + assignment read one scan
    // deterministic init (the q23_kmeans rule): the k smallest vec_ids,
    // cid = rank in vec_id order — k rows to the driver, not the data
    val cents: Seq[(Long, Seq[Long])] =
      vq.orderBy("vec_id").limit(k).select("vm").collect()
        .map(_.getSeq[Long](0)).toSeq.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }
    val cidLit = array(cents.map(c => lit(c._1)): _*)
    val cmLit = array(cents.map(c => array(c._2.map(lit): _*)): _*)
    val assigned = vq
      .withColumn("dists", transform(cmLit, cv =>
        aggregate(zip_with(col("vm"), cv, (a, b) => (a - b) * (a - b)),
          lit(0L), _ + _)))
      .withColumn("cid", element_at(cidLit,
        array_position(col("dists"), array_min(col("dists"))).cast("int")))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
      .withColumn("blk", pmod(col("vec_id"), lit(nBlocks)))
    val aSide = assigned.select(col("cid"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("nrm_a"), col("blk").as("blk_a"))
      .withColumn("bucket", explode(expr(
        s"transform(sequence(blk_a, ${nBlocks - 1}), x -> blk_a * $nBlocks + x)")))
    val bSide = assigned.select(col("cid").as("cid_b"),
        col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nrm_b"), col("blk").as("blk_b"))
      .withColumn("bucket_b", explode(expr(
        s"transform(sequence(0, blk_b), x -> x * $nBlocks + blk_b)")))
    // explicit partitioning, not AQE's: tiny shuffle, O(|block|²) work
    // per bucket — coalescing would serialize the buckets (see
    // q22_dedup_embed)
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val pairs = aSide.repartition(n, col("cid"), col("bucket"))
      .join(bSide.repartition(n, col("cid_b"), col("bucket_b")),
        col("cid") === col("cid_b") && col("bucket") === col("bucket_b"))
      .filter(col("blk_a") =!= col("blk_b") || col("id_a") < col("id_b"))
      .withColumn("cos",
        dotExpr(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= 0.35)
      // normalize to (earlier keeper a, later dropped b)
      .select(col("cid"), least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"), col("cos"))
    pairs.groupBy(col("b").as("dropped"))
      .agg(min(col("cid")).as("cid"), // constant within the group
        // field-wise struct max: highest cos, then earliest keeper
        max(struct(col("cos"), (-col("a")).as("na"))).as("best"))
      .select(col("dropped"), col("cid"), (-col("best.na")).as("keeper"),
        col("best.cos").as("cos"))
      .orderBy("dropped")
  }

  val q23SemdedupSql: String =
    """WITH v AS (SELECT vec_id,
      |    list_transform(embedding, x ->
      |      CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 2000000)
      |      AS vm,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      |  FROM embeddings),
      |n AS (SELECT vec_id, vm, dv,
      |    sqrt(list_reduce(list_transform(dv, x -> x*x), (a,b) -> a+b))
      |      AS nrm
      |  FROM v),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
      |    AS cid, vm
      |  FROM (SELECT * FROM n ORDER BY vec_id LIMIT 8)),
      |d AS (SELECT n.vec_id, n.dv, n.nrm, c.cid,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (n.vm[i] - c.vm[i]) * (n.vm[i] - c.vm[i]))) AS dist
      |  FROM n, c0 c),
      |a AS (SELECT vec_id, dv, nrm, cid FROM (SELECT *, row_number()
      |    OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)
      |  WHERE rn = 1),
      |p AS (SELECT x.cid, x.vec_id AS a, y.vec_id AS b,
      |    list_reduce(list_transform(list_zip(x.dv, y.dv), q -> q[1]*q[2]),
      |      (s,t) -> s+t) / (x.nrm * y.nrm) AS cos
      |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id),
      |f AS (SELECT * FROM p WHERE cos >= 0.35),
      |r AS (SELECT b AS dropped, cid, a AS keeper, cos, row_number()
      |    OVER (PARTITION BY b ORDER BY cos DESC, a) AS rn FROM f)
      |SELECT dropped, cid, keeper, cos FROM r WHERE rn = 1
      |ORDER BY dropped""".stripMargin

  /** ADAPTIVE-K SEMANTIC DEDUPLICATION — q23_semdedup's 100 TB sizing
    * rule (its scaladoc: "at 100 TB you size k ≈ √n") as a measurable
    * entry instead of a prose claim: k = max(8, ⌈√n⌉), so BOTH halves
    * of the work are Θ(n^1.5) BY DESIGN — assignment probes n·k
    * centroid candidates, within-cluster pairs total Σ|c|² ≈ n²/k —
    * and the scaling sweep pins that exponent on the `vec` ladder
    * (bound 1.7 = the designed 1.5 plus regime headroom). Same drop
    * rule, threshold, and integer micro-space as q23_semdedup; the
    * sf0.01 oracle replays it hash-exactly at k = 45.
    *
    * Plan differences from the fixed-k twin, both forced by k ≈ √n:
    *   - centroids are a COLLECTED driver seq (k ≤ ⌈√n⌉ rows — ~1.4k
    *     at big-ladder 2M, sub-linear and KBs) broadcast back as a
    *     k-row join side: the literal-array assignment of
    *     q23_kmeans/q23_semdedup stops codegen-compiling past ~100
    *     centroids;
    *   - assignment is a broadcast nested-loop over those k rows into
    *     a map-side-combined argmin (min of (dist, cid) structs — the
    *     same first-minimum tie rule as array_position), so the
    *     exchange carries n (vec_id, cid) rows, never the n·k
    *     candidate stream. */
  def q23_semdedup_adaptive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nBlocks = 8
    val vq = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> " +
          "cast(floor(cast(x as double) * 1000000) as bigint) + 2000000)")
          .as("vm"),
        toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", normExpr(col("v")))
      .localCheckpoint() // count + centroid head + assignment share it
    val k = math.max(8, math.ceil(math.sqrt(vq.count().toDouble)).toInt)
    // deterministic init (the q23_kmeans rule): the k smallest vec_ids,
    // cid = rank in vec_id order — k ≈ √n rows to the driver
    val cents: Seq[(Long, Seq[Long])] =
      vq.orderBy("vec_id").limit(k).select("vm").collect()
        .map(_.getSeq[Long](0)).toSeq.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }
    val centDf = broadcast(cents.toDF("cid", "cvm"))
    val nPart = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // the argmin probe is the n·k·d half of the n^1.5 budget, and the
    // crossJoin is narrow — without an explicit spread it would run at
    // the SCAN's parallelism (4 generation slices: measured 230s wall
    // for 933s of work at the 200k rung). One cheap n-row shuffle
    // first puts the probe on every core/executor.
    val best = vq.select(col("vec_id"), col("vm"))
      .repartition(nPart, col("vec_id"))
      .crossJoin(centDf)
      .withColumn("dist", aggregate(zip_with(col("vm"), col("cvm"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id").as("b_id"), col("m.cid").as("cid"))
    val assigned = vq.join(best, col("vec_id") === col("b_id"))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
      // eager: BOTH pair sides below read the assignment — without the
      // snapshot each would recompute the n·k argmin probe (the plan
      // signature showed the whole subtree duplicated: sort_agg 6,
      // bnlj 2); n rows × (64 doubles + keys) is the working set the
      // pair join holds anyway. blk is derived AFTER the pin (pmod is
      // row-local) so the snapshot stays at the 4-column minimum the
      // fork consumes.
      .localCheckpoint()
      .withColumn("blk", pmod(col("vec_id"), lit(nBlocks)))
    // within-cluster pairs: the identical triangular block-bucket
    // machinery as q23_semdedup — keyed (cid, bucket) so a big cluster
    // spreads over |blocks|²/2 tasks instead of one reducer
    val aSide = assigned.select(col("cid"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("nrm_a"), col("blk").as("blk_a"))
      .withColumn("bucket", explode(expr(
        s"transform(sequence(blk_a, ${nBlocks - 1}), x -> blk_a * $nBlocks + x)")))
    val bSide = assigned.select(col("cid").as("cid_b"),
        col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nrm_b"), col("blk").as("blk_b"))
      .withColumn("bucket_b", explode(expr(
        s"transform(sequence(0, blk_b), x -> x * $nBlocks + blk_b)")))
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val pairs = aSide.repartition(n, col("cid"), col("bucket"))
      .join(bSide.repartition(n, col("cid_b"), col("bucket_b")),
        col("cid") === col("cid_b") && col("bucket") === col("bucket_b"))
      .filter(col("blk_a") =!= col("blk_b") || col("id_a") < col("id_b"))
      .withColumn("cos",
        dotExpr(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= 0.35)
      .select(col("cid"), least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"), col("cos"))
    pairs.groupBy(col("b").as("dropped"))
      .agg(min(col("cid")).as("cid"),
        max(struct(col("cos"), (-col("a")).as("na"))).as("best"))
      .select(col("dropped"), col("cid"), (-col("best.na")).as("keeper"),
        col("best.cos").as("cos"))
      .orderBy("dropped")
  }

  val q23SemdedupAdaptiveSql: String =
    """WITH v AS (SELECT vec_id,
      |    list_transform(embedding, x ->
      |      CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 2000000)
      |      AS vm,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      |  FROM embeddings),
      |n AS (SELECT vec_id, vm, dv,
      |    sqrt(list_reduce(list_transform(dv, x -> x*x), (a,b) -> a+b))
      |      AS nrm
      |  FROM v),
      |c0 AS (SELECT CAST(rn - 1 AS BIGINT) AS cid, vm
      |  FROM (SELECT vm, row_number() OVER (ORDER BY vec_id) AS rn FROM n)
      |  WHERE rn <= GREATEST(8,
      |    CEIL(SQRT((SELECT count(*) FROM embeddings))))),
      |d AS (SELECT n.vec_id, n.dv, n.nrm, c.cid,
      |    list_sum(list_transform(range(1, 65),
      |      i -> (n.vm[i] - c.vm[i]) * (n.vm[i] - c.vm[i]))) AS dist
      |  FROM n, c0 c),
      |a AS (SELECT vec_id, dv, nrm, cid FROM (SELECT *, row_number()
      |    OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)
      |  WHERE rn = 1),
      |p AS (SELECT x.cid, x.vec_id AS a, y.vec_id AS b,
      |    list_reduce(list_transform(list_zip(x.dv, y.dv), q -> q[1]*q[2]),
      |      (s,t) -> s+t) / (x.nrm * y.nrm) AS cos
      |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id),
      |f AS (SELECT * FROM p WHERE cos >= 0.35),
      |r AS (SELECT b AS dropped, cid, a AS keeper, cos, row_number()
      |    OVER (PARTITION BY b ORDER BY cos DESC, a) AS rn FROM f)
      |SELECT dropped, cid, keeper, cos FROM r WHERE rn = 1
      |ORDER BY dropped""".stripMargin

  // ------------------------------------------------------------ recall
  /** ANN RECALL@k EVALUATION (q23_recall) — the certification harness
    * every approximate index needs before it replaces the exact path:
    * for each query vector, how many of the exact top-3 cosine
    * neighbors does the label-partitioned IVF probe (q23_knn_ivf's
    * one-cell search) actually return? Emits per-query hits and
    * recall in ppm plus the macro-average over the query set — the
    * number a pipeline gates on ("ship the IVF layout only if
    * recall@3 ≥ 0.95").
    *
    * Scale stance: recall evaluation runs the EXACT baseline, so it is
    * definitionally a sampled-query harness — the query set broadcasts
    * (constant-size, here vec_id < 10), candidates stay partitioned,
    * and each side keeps per-query top-k through the ranking window.
    * The hit join is (q_id, cand_id) equi — k·|queries| rows. The
    * macro-average is a one-row broadcast crossJoin (the grand-total
    * idiom), never an unpartitioned window. */
  def q23_recall(s: SparkSession, dir: String): DataFrame = {
    val e = normalized(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("q_nrm")))
    val cand = e.select(col("vec_id").as("cand_id"), col("label"),
      col("v").as("cv"), col("nrm").as("c_nrm"))
    val scored = cand.join(q, col("cand_id") =!= col("q_id"))
      .withColumn("cos",
        dotExpr(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos").desc, col("cand_id"))
    val exact = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("q_id", "cand_id")
    val ivf = scored.filter(col("label") === col("q_label"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("q_id", "cand_id")
    val perQ = exact
      .join(ivf.withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
      .groupBy("q_id")
      .agg(count(col("hit")).as("n_hits"))
      .withColumn("recall_ppm", expr("n_hits * 1000000 div 3"))
    val mean = perQ.agg(expr(
      "sum(n_hits) * 1000000 div (count(1) * 3)").as("mean_recall_ppm"))
    perQ.crossJoin(broadcast(mean))
      .select("q_id", "n_hits", "recall_ppm", "mean_recall_ppm")
      .orderBy("q_id")
  }

  val q23RecallSql: String =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |    sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
      |  FROM e),
      |scored AS (SELECT q.vec_id AS q_id, q.label AS q_label,
      |    c.vec_id AS cand_id, c.label,
      |    list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1]*p[2]),
      |      (x,y) -> x+y) / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
      |ex AS (SELECT q_id, cand_id FROM (
      |    SELECT q_id, cand_id, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, cand_id) AS rk FROM scored)
      |  WHERE rk <= 3),
      |iv AS (SELECT q_id, cand_id FROM (
      |    SELECT q_id, cand_id, ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, cand_id) AS rk
      |    FROM scored WHERE label = q_label)
      |  WHERE rk <= 3),
      |perq AS (SELECT ex.q_id, COUNT(iv.cand_id) AS n_hits
      |  FROM ex LEFT JOIN iv ON iv.q_id = ex.q_id
      |    AND iv.cand_id = ex.cand_id
      |  GROUP BY ex.q_id),
      |m AS (SELECT CAST(SUM(n_hits) * 1000000 // (COUNT(*) * 3)
      |    AS BIGINT) AS mean_recall_ppm FROM perq)
      |SELECT q_id, n_hits,
      |  CAST(n_hits * 1000000 // 3 AS BIGINT) AS recall_ppm,
      |  mean_recall_ppm
      |FROM perq, m
      |ORDER BY q_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_recall" -> (q23_recall _),
    "q23_semdedup" -> (q23_semdedup _),
    "q23_semdedup_adaptive" -> (q23_semdedup_adaptive _),
    "q23_knn_exact" -> (q23_knn_exact _),
    "q23_range" -> (q23_range _),
    "q23_mmr" -> (q23_mmr _),
    "q23_hardneg" -> (q23_hardneg _),
    "q23_knn_ivf" -> (q23_knn_ivf _),
    "q23_ivf_layout" -> (q23_ivf_layout _),
    "q23_knn_lsh" -> (q23_knn_lsh _),
    "q23_centroid" -> (q23_centroid _),
    "q23_gram" -> (q23_gram _),
    "q23_quantize" -> (q23_quantize _),
    "q23_kmeans" -> (q23_kmeans _),
    "q23_pq" -> (q23_pq _),
    "q23_ivfpq" -> (q23_ivfpq _))

  def oracles: Map[String, String] = Map(
    "q23_recall" -> q23RecallSql,
    "q23_semdedup" -> q23SemdedupSql,
    "q23_semdedup_adaptive" -> q23SemdedupAdaptiveSql,
    "q23_knn_exact" -> q23ExactSql,
    "q23_range" -> q23RangeSql,
    "q23_mmr" -> q23MmrSql,
    "q23_hardneg" -> q23HardnegSql,
    "q23_knn_ivf" -> q23IvfSql,
    "q23_ivf_layout" -> q23IvfSql, // layout ≡ logical op: shared oracle
    "q23_knn_lsh" -> q23LshSql,
    "q23_centroid" -> q23CentroidSql,
    "q23_gram" -> q23GramSql,
    "q23_quantize" -> q23QuantizeSql,
    "q23_kmeans" -> q23KmeansSql,
    "q23_pq" -> q23PqSql,
    "q23_ivfpq" -> q23IvfPqSql)
}
