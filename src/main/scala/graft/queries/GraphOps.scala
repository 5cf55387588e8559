package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Q41 — iterative graph centrality (PageRank) as a declarative Spark
  * loop, joining the q37 pointer-doubling / q22 connected-components
  * family of iterative DataFrame operators.
  *
  * PageRank at 100 TB is the canonical "iterate a join until done"
  * workload: per iteration, ONE shuffle keyed on edge source (pick up
  * the current score), one keyed on destination (sum the arriving
  * mass), and a left join back onto the node set (teleport base for
  * nodes nothing links to). Scores are node-scale so nothing
  * broadcasts — the joins are honest shuffle joins, and each round
  * localCheckpoints so lineage stays flat (the q37/q22 loop
  * discipline).
  *
  * Determinism: all arithmetic is INTEGER micro-units — score/out-deg
  * floors per edge, damping as (850 · m) div 1000 — so partition
  * merge order can't perturb a single bit and the DuckDB oracle can
  * replay the identical three iterations as unrolled CTE stages.
  * (Float PageRank would converge the same ranking but could not
  * hash-match any oracle; the micro-unit grid serves the proof, the
  * loop shape is the algorithm.)
  */
object GraphOps {

  /** Deterministic synthetic "referral" graph: customers are nodes;
    * each order contributes an edge from its customer to a key-hashed
    * pseudo-random customer (the q26 Knuth mix keeps it engine-exact),
    * deduplicated to simple edges. Self-links stay — they're legal
    * PageRank edges and exercise the src==dst path. */
  private def edgesOf(orders: DataFrame, nCust: Long) =
    orders.select(col("o_custkey").as("src"),
        (pmod(col("o_orderkey") * 2654435761L, lit(4294967296L))
          % nCust + 1L).as("dst"))
      .distinct()

  /** The iteration loop over arbitrary (node) / (src, dst) frames —
    * exposed so specs can plant hand-computed graphs. Unordered.
    *
    * Join strategy stays with the planner: the per-iteration score
    * frame is node-scale, and Spark broadcasts it only while it
    * genuinely fits (flipping to shuffle past the threshold) — the
    * correct behavior at every scale, including 100 TB where it
    * shuffles. The scaling gate reads the resulting broadcast→shuffle
    * flip plus the per-task working-set step as a WORK exponent above
    * the algorithmic truth; the row-growth fit (linear — every
    * iteration moves Θ(m) rows) is what separates that constant-regime
    * drift from a real quadratic (ScalingAudit's regime rule; pinning
    * shuffle_hash here was measured SLOWER at every rung and is the
    * wrong trade). MEASURED on the graph ladder (orders 50k→5M, r12):
    * planner-chosen plan fits 1.78 with the flip inside the decade;
    * the same plan with the strategy HELD in the shuffle regime
    * (autoBroadcastJoinThreshold −1) fits 1.38 — under the 1.6 bound —
    * and rows fit 1.23: the excess IS the flip, exactly as documented
    * above, now as numbers in scaling_exponents.json rather than
    * prose.
    *
    * `srcsInNodes` asserts that every edge's `src` is a node; only then
    * may round 1 skip its join (below). Without it, an edge from a node
    * outside `nodes` carries no score, in round 1 as in every later
    * round. */
  private[graft] def pagerank(nodes: DataFrame, edges: DataFrame,
      iters: Int, srcsInNodes: Boolean = false): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    val withDeg = edges.join(deg, "src").localCheckpoint()
    var scores = nodes.select(col("node"), lit(1000000L).as("s"))
    for (i <- 1 to iters) {
      // with srcsInNodes, round 1 rides a projection, not a join: every
      // node's score is the 1000000 constant, so joining the score frame
      // onto the edge list just annotates each edge with that constant —
      // the one edge-scale join of the round collapses away (guide §1.2)
      val srcScored =
        if (i == 1 && srcsInNodes) withDeg.withColumn("s", lit(1000000L))
        else withDeg.join(scores.withColumnRenamed("node", "src"), "src")
      val contrib = srcScored
        .select(col("dst").as("node"), expr("s div d").as("c"))
        .groupBy("node").agg(sum(col("c")).as("m"))
      scores = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("850 * coalesce(m, 0L) div 1000")).as("s"))
        .localCheckpoint()
    }
    scores
  }

  def q41_pagerank(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(s, dir, "customer")
    // one scalar to the driver: the hash range of the synthetic dst —
    // a query constant in both engines (q24_tfidf's N precedent)
    val nCust = customer.count()
    val nodes = customer.select(col("c_custkey").as("node"))
      .localCheckpoint()
    val edges = edgesOf(Tables.load(s, dir, "orders"), nCust)
      .localCheckpoint() // reused every iteration
    // edge srcs are order custkeys ⊆ customer (the q36d-audited FK)
    pagerank(nodes, edges, 3, srcsInNodes = true).orderBy("node")
  }

  /** The same three iterations unrolled as CTE stages (standard SQL
    * forbids aggregation in a recursive term, and unrolling keeps each
    * stage visibly identical to the Spark loop body). */
  val q41Sql: String =
    """WITH n AS (SELECT count(*) AS nc FROM customer),
      |e AS (SELECT DISTINCT o_custkey AS src,
      |        (o_orderkey * 2654435761) % 4294967296
      |          % (SELECT nc FROM n) + 1 AS dst
      |      FROM orders),
      |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      |s0 AS (SELECT c_custkey AS node, CAST(1000000 AS BIGINT) AS s
      |       FROM customer),
      |c1 AS (SELECT e.dst AS node, CAST(SUM(s0.s // deg.d) AS BIGINT) AS m
      |       FROM e JOIN deg USING (src) JOIN s0 ON s0.node = e.src
      |       GROUP BY e.dst),
      |s1 AS (SELECT s0.node,
      |         CAST(150000 + (850 * COALESCE(c1.m, 0)) // 1000 AS BIGINT)
      |           AS s
      |       FROM s0 LEFT JOIN c1 ON c1.node = s0.node),
      |c2 AS (SELECT e.dst AS node, CAST(SUM(s1.s // deg.d) AS BIGINT) AS m
      |       FROM e JOIN deg USING (src) JOIN s1 ON s1.node = e.src
      |       GROUP BY e.dst),
      |s2 AS (SELECT s1.node,
      |         CAST(150000 + (850 * COALESCE(c2.m, 0)) // 1000 AS BIGINT)
      |           AS s
      |       FROM s1 LEFT JOIN c2 ON c2.node = s1.node),
      |c3 AS (SELECT e.dst AS node, CAST(SUM(s2.s // deg.d) AS BIGINT) AS m
      |       FROM e JOIN deg USING (src) JOIN s2 ON s2.node = e.src
      |       GROUP BY e.dst),
      |s3 AS (SELECT s2.node,
      |         CAST(150000 + (850 * COALESCE(c3.m, 0)) // 1000 AS BIGINT)
      |           AS s
      |       FROM s2 LEFT JOIN c3 ON c3.node = s2.node)
      |SELECT node, s FROM s3 ORDER BY node""".stripMargin

  // ------------------------------------------------------------- Q41b
  /** LABEL-PROPAGATION community detection (Raghavan et al. 2007), 3
    * SYNCHRONOUS deterministic rounds over the undirected referral
    * graph: every node starts as its own label and each round adopts
    * the most frequent label among its neighbors (ties → smallest
    * label; isolated nodes keep their own). Deterministic synchronous
    * LPA trades the textbook's random asynchronous order for
    * reproducibility — the same trade the rest of the engine makes —
    * so the oracle can replay the identical three rounds as unrolled
    * CTE stages.
    *
    * Scale: per round ONE shuffle keyed on edge source (pick up
    * labels), one (node, label)-keyed partial-agg vote count, and the
    * argmax per node over its ≤ deg(v) distinct neighbor labels —
    * min(struct(−votes, label)) inside the SAME aggregate, no ranking
    * window — then a left join back onto nodes (isolated-node
    * fallback). Node-scale sides: honest shuffle joins, no broadcast
    * (the q41 argument); per-round localCheckpoint keeps lineage flat
    * (the q37/q22 loop discipline). `srcsInNodes` as in [[pagerank]]:
    * it lets round 1 skip the label pickup join. */
  private[graft] def labelProp(nodes: DataFrame, undEdges: DataFrame,
      iters: Int, srcsInNodes: Boolean = false): DataFrame = {
    // join strategy stays with the planner — same reasoning as
    // [[pagerank]]: broadcast-while-it-fits is correct at every scale,
    // and the audit's row-growth fit (linear, Θ(m) per round)
    // classifies the resulting work-exponent drift as constant-regime,
    // not algorithmic
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    for (i <- 1 to iters) {
      // with srcsInNodes, round 1 rides a projection, not a join: every
      // node's label IS its id, so the label pickup join over the edge
      // list is the identity annotation lbl = src — the round's one
      // edge-scale join collapses away (guide §1.2)
      val picked =
        if (i == 1 && srcsInNodes) undEdges.withColumn("lbl", col("src"))
        else undEdges
          .join(labels.select(col("node").as("src"), col("lbl")), "src")
      val votes = picked
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val best = votes
        .groupBy("node")
        .agg(min(struct((col("c") * -1).as("negc"), col("lbl")))
          .as("top"))
        .select(col("node"), col("top.lbl").as("new_lbl"))
      labels = labels.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_lbl"), col("lbl")).as("lbl"))
        .localCheckpoint()
    }
    labels
  }

  def q41b_lpa(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(s, dir, "customer")
    val nCust = customer.count()
    val nodes = customer.select(col("c_custkey").as("node"))
      .localCheckpoint()
    // undirected simple graph: self-loops dropped (a node voting for
    // itself defeats propagation), canonical dedup, then both
    // directions so each endpoint sees the other
    val canon = edgesOf(Tables.load(s, dir, "orders"), nCust)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val und = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint() // reused every round
    // every endpoint is a customer key or a synthetic dst in [1, nCust],
    // both ⊆ nodes
    labelProp(nodes, und, 3, srcsInNodes = true).orderBy("node")
  }

  /** Three unrolled rounds; the vote argmax is the row_number pick
    * (votes DESC, label ASC) — the same (−votes, label) minimum the
    * Spark aggregate takes. */
  val q41bSql: String = {
    def round(prev: String, cur: String): String =
      s"""v$cur AS (SELECT e.dst AS node, l.lbl, count(*) AS c
         |      FROM e JOIN l$prev l ON l.node = e.src
         |      GROUP BY 1, 2),
         |b$cur AS (SELECT node, lbl FROM (
         |        SELECT node, lbl, row_number() OVER (PARTITION BY node
         |          ORDER BY c DESC, lbl) AS rk FROM v$cur)
         |      WHERE rk = 1),
         |l$cur AS (SELECT p.node, COALESCE(b.lbl, p.lbl) AS lbl
         |      FROM l$prev p LEFT JOIN b$cur b ON b.node = p.node)"""
        .stripMargin
    s"""WITH n AS (SELECT count(*) AS nc FROM customer),
       |e0 AS (SELECT DISTINCT o_custkey AS src,
       |         (o_orderkey * 2654435761) % 4294967296
       |           % (SELECT nc FROM n) + 1 AS dst
       |       FROM orders),
       |ec AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |       FROM e0 WHERE src != dst),
       |e AS (SELECT a AS src, b AS dst FROM ec
       |      UNION ALL SELECT b, a FROM ec),
       |l0 AS (SELECT c_custkey AS node, c_custkey AS lbl FROM customer),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")}
       |SELECT node, lbl FROM l3 ORDER BY node""".stripMargin
  }

  // -------------------------------------------------------------- Q44
  /** TRIANGLE COUNTING by degree orientation — per-node triangle
    * participation over the q41 referral graph (self-loops dropped,
    * edges canonicalized undirected).
    *
    * The naive plan (three-way self-join of the edge list) explodes on
    * hub nodes: a degree-d vertex contributes d² wedge candidates. The
    * scale shape is Cohen's MapReduce orientation (also Suri & Vassilvitskii
    * WWW'11): direct every edge from its lower-(degree, id) endpoint to
    * the higher one, generate wedges ONLY at each edge's source — the
    * oriented out-degree is bounded by O(√m), so total wedge volume is
    * O(m^1.5) worst-case instead of Σd², and each triangle is produced
    * exactly once (at its orientation-minimum vertex). Two shuffle
    * joins: wedge generation keyed on the pivot, closure probe keyed on
    * the canonical (lo, hi) pair. No broadcast — at 100 TB every side
    * is edge-scale — and that is now PINNED with shuffle_hash hints,
    * not left to the planner: the scaling ladder caught Spark
    * broadcasting the 1.5M-row edge set (160 MiB!) into the closure
    * probe at the sf1-equivalent rung — one decade more and that
    * broadcast is a job-killing 1.6 GB. The hints also keep the plan
    * shape IDENTICAL across scale rungs, so the fitted work exponent
    * measures growth, not a broadcast→shuffle regime flip straddling
    * the fit (measured 1.86/2.16 across the flip; the wedge/edge row
    * counts themselves grow exactly linearly on this constant-degree
    * graph). shuffle_hash over sort-merge: the probe sides (wedges)
    * need no sort, and the per-partition build sides are the smaller
    * edge slices.
    *
    * Determinism: exact integer counts; orientation only changes WHERE
    * a triangle is found, never whether. The oracle therefore counts
    * the same triangles by plain id-ordering (a < b < c), which DuckDB
    * can state as the textbook three-way join. */
  private[graft] def triangles(edges: DataFrame): DataFrame = {
    // edges: undirected simple graph, one row per edge, a < b
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = edges
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint() // wedge + closure branches both read it
    val wedges = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")).hint("shuffle_hash"),
        "u")
      .filter(col("x") < col("y"))
    // closure probe against the CANONICAL edge set: {x, y} is an edge
    // iff (least, greatest) appears — orientation of the closing edge
    // is irrelevant to membership
    val tris = wedges.join(edges.hint("shuffle_hash"),
      least(col("x"), col("y")) === col("a") &&
        greatest(col("x"), col("y")) === col("b"))
    tris.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy("node")
  }

  def q44_triangles(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(s, dir, "customer")
    val nCust = customer.count()
    val edges = edgesOf(Tables.load(s, dir, "orders"), nCust)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      // snapshot: the triangle core reads the edge set from FOUR
      // subtrees (both degree-union branches, the orientation join
      // input, the closure probe) and column pruning makes them
      // non-identical, so ReuseExchange can't share the distinct —
      // without this the orders scan + dedup exchange runs 4× (the
      // q44b shape, which already checkpointed here)
      .localCheckpoint()
    triangles(edges)
  }

  // --------------------------------------------------------------- Q44b
  /** LOCAL CLUSTERING COEFFICIENT (q44b) — per node with degree ≥ 2:
    * 2·triangles / (deg·(deg−1)) in ppm, the "how clique-like is this
    * node's neighborhood" metric (Watts–Strogatz) that turns q44's raw
    * triangle counts into a bounded, comparable score. Nodes in no
    * triangle score 0 via the left join, not by dropping out. Integer
    * throughout: the numerator 2·tri·10⁶ is exact and the division
    * floors identically in both engines (all operands non-negative).
    *
    * Scale: reuses the degree-oriented triangle core (O(m^1.5) wedges,
    * no broadcast of edge-scale sides); degrees are one partial-agg
    * groupBy over the edge endpoints; the combine join is node-keyed. */
  def q44b_clustering(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(s, dir, "customer")
    val nCust = customer.count()
    val edges = edgesOf(Tables.load(s, dir, "orders"), nCust)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint() // read by the degree agg and the triangle core
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triangles(edges), Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("coeff_ppm",
        expr("2 * n_tri * 1000000 div (deg * (deg - 1))"))
      .select("node", "deg", "n_tri", "coeff_ppm")
      .orderBy("node")
  }

  val q44bSql: String =
    """WITH n AS (SELECT count(*) AS nc FROM customer),
      |raw AS (SELECT DISTINCT o_custkey AS src,
      |          (o_orderkey * 2654435761) % 4294967296
      |            % (SELECT nc FROM n) + 1 AS dst
      |        FROM orders),
      |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |      FROM raw WHERE src != dst),
      |d AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
      |      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |      GROUP BY 1),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |      FROM e e1
      |      JOIN e e2 ON e2.a = e1.b
      |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corners AS (SELECT x AS node FROM t
      |            UNION ALL SELECT y FROM t
      |            UNION ALL SELECT z FROM t),
      |tri AS (SELECT node, count(*) AS n_tri FROM corners GROUP BY node)
      |SELECT d.node, deg, CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
      |  CAST(2 * COALESCE(n_tri, 0) * 1000000 // (deg * (deg - 1))
      |    AS BIGINT) AS coeff_ppm
      |FROM d LEFT JOIN tri ON tri.node = d.node
      |WHERE deg >= 2 ORDER BY d.node""".stripMargin

  /** Oracle: the same triangle set enumerated by id-order (a < b < c) —
    * one row per triangle, attributed to all three corners. */
  val q44Sql: String =
    """WITH n AS (SELECT count(*) AS nc FROM customer),
      |raw AS (SELECT DISTINCT o_custkey AS src,
      |          (o_orderkey * 2654435761) % 4294967296
      |            % (SELECT nc FROM n) + 1 AS dst
      |        FROM orders),
      |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |      FROM raw WHERE src != dst),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |      FROM e e1
      |      JOIN e e2 ON e2.a = e1.b
      |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corners AS (SELECT x AS node FROM t
      |            UNION ALL SELECT y FROM t
      |            UNION ALL SELECT z FROM t)
      |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      |FROM corners GROUP BY node ORDER BY node""".stripMargin

  // --------------------------------------------------------------- Q41c
  /** CONNECTED COMPONENTS as a first-class graph entry (q41c) — the
    * co-purchase graph (parts linked when ≥3 orders contain both,
    * q42's pair supports) resolved to components: every node with its
    * component root (= min part id) and the component size. The q22
    * dedup clustering is exactly this operator applied to near-dup
    * pairs; surfacing it on a PRODUCT graph makes the primitive
    * driver-visible on its own ("which items form a purchase
    * ecosystem") instead of only inside dedup.
    *
    * Spark side: the shared large-star/small-star loop
    * ([[DedupOps.connectedComponents]] — Kiveris et al., O(log² n)
    * rounds, per-round localCheckpoint, checksum convergence); edge
    * generation is q42's row-local basket expansion. The oracle walks
    * the same (tiny, support-floored) graph with a recursive
    * reachability CTE + min-label collapse — exponential paths dedup
    * through UNION, bounded by |comp|² pairs. Component size is a
    * map-side-combined `groupBy(root).count()` joined back on root —
    * NOT a root-partitioned window: real co-occurrence graphs carry a
    * giant component, and a window would funnel nearly the whole node
    * frame through that one root's task, while the partial agg ships
    * one row per (task, root) into a component-count-scale shuffle. */
  def q41c_components(s: SparkSession, dir: String): DataFrame = {
    val pairs = IndexOps.pairCounts(
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      minSupport = 3).select("a", "b")
    val cc = DedupOps.connectedComponents(pairs)
      .select(col("doc_id").as("node"), col("keep_id").as("root"))
    val sizes = cc.groupBy("root").agg(count(lit(1)).as("csize"))
    cc.join(sizes, "root")
      .select("node", "root", "csize")
      .orderBy("node")
  }

  val q41cSql: String =
    """WITH RECURSIVE i AS (SELECT DISTINCT l_orderkey, l_partkey
      |                     FROM lineitem),
      |p AS (SELECT a.l_partkey AS a, b.l_partkey AS b
      |      FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
      |        AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 3),
      |eds AS (SELECT a AS u, b AS v FROM p
      |        UNION ALL SELECT b, a FROM p),
      |nodes AS (SELECT DISTINCT u AS node FROM eds),
      |reach AS (
      |  SELECT node, node AS lbl FROM nodes
      |  UNION
      |  SELECT e.v, r.lbl FROM reach r JOIN eds e ON e.u = r.node),
      |comp AS (SELECT node, MIN(lbl) AS root FROM reach GROUP BY node)
      |SELECT node, root,
      |  CAST(COUNT(*) OVER (PARTITION BY root) AS BIGINT) AS csize
      |FROM comp
      |ORDER BY node""".stripMargin

  // --------------------------------------------------------------- Q41d
  /** K-CORE DECOMPOSITION (q41d) — the maximal subgraph where every node
    * keeps degree ≥ 2, extracted from the support-2 co-purchase graph by
    * ITERATIVE PEELING (Matula–Beck): each round recomputes degrees over
    * the surviving subgraph and drops every node that fell under k;
    * peeling is monotone, so the fixpoint is the 2-core regardless of
    * drop order. Output: each core node with its within-core degree.
    *
    * Spark side: per round two shuffle equi-joins restrict the edge list
    * to surviving endpoints and one partial-agg groupBy recomputes
    * degrees — no broadcast of node-scale sides, per-round
    * localCheckpoint (the q37/q22/q41 loop discipline), early exit when
    * a round drops nobody (equal count ⇒ equal set, since peeling only
    * removes). Bounded at [[KcoreRounds]] rounds with a LOUD failure —
    * never a silently-unconverged result — because the oracle replays
    * exactly that many unrolled rounds (a recursive CTE cannot express
    * non-monotone deletion); sf0.001/0.01/0.1 converge in 0/3/5 rounds.
    *
    * Scale: each round is O(m) shuffled rows; round count is the graph's
    * degeneracy-peel depth, in practice ≪ 8 for support-thresholded
    * co-occurrence graphs. The convergence count() per round is one job
    * over the (always-shrinking) node frame. Measured work exponent
    * (ScalingSweep, sf0.001→0.1): ≈1.3–1.4 — the steepest on the risk
    * list, and explained, not pathological: m itself grows
    * super-linearly in this SF range (more baskets push more pairs
    * over the support-2 threshold) and the peel depth grows 0→3→5
    * rounds with density; the per-round work stays O(m). */
  val KcoreRounds = 8

  def q41d_kcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = IndexOps.pairCounts(
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      minSupport = 2).select("a", "b")
    val eds = pairs.union(pairs.select(col("b"), col("a"))).toDF("u", "v")
      .localCheckpoint()
    // peel keeps the degree column: the round that CONFIRMS convergence
    // computed its degrees over edges restricted to the SAME node set it
    // returned (alive_r == alive_{r-1}), so those degrees ARE the
    // within-core degrees — re-running the two restriction joins + agg
    // after the loop (the previous shape) recomputed a result the final
    // round already held (guide §1.2: don't compute things you already
    // have). One full round of work saved per invocation. (Pinning the
    // eds partitioning / reordering the restriction joins was measured
    // SLOWER at sf0.1: the alive side broadcasts, so the "saved"
    // exchange never existed, and an explicit repartition defeats AQE
    // coalescing on every downstream stage.)
    def peel(alive: DataFrame): DataFrame = eds
      .join(alive.select(col("node").as("u")), "u")
      .join(alive.select(col("node").as("v")), "v")
      .groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .select(col("u").as("node"), col("deg"))
    // round 1 rides the raw degree histogram, not the restriction
    // joins: the initial alive set IS the set of edge endpoints, so
    // both round-1 restriction joins are identity (every u and every v
    // of the symmetric edge list is itself an endpoint) — the first
    // peel is just groupBy(u).count, and that grouped frame's row count
    // doubles as the initial node count, so the separate distinct-
    // endpoints exchange disappears too (guide §1.2: two edge-scale
    // joins + one distinct exchange removed from round 1)
    val hist = eds.groupBy("u").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nAll = hist.count()
    var alive = hist.filter(col("deg") >= 2)
      .select(col("u").as("node"), col("deg"))
    var nAlive = alive.count()
    var converged = nAlive == nAll
    var round = 1
    while (round < KcoreRounds && !converged) {
      val next = peel(alive).localCheckpoint()
      val nNext = next.count()
      converged = nNext == nAlive
      alive = next; nAlive = nNext; round += 1
    }
    if (!converged) {
      // round-bound exit: one more peel both verifies the fixpoint AND
      // refreshes the degrees onto the confirmed set (the loop's last
      // degrees were computed over the pre-final set)
      val confirm = peel(alive).localCheckpoint()
      require(confirm.count() == nAlive,
        s"q41d_kcore: peeling not converged within $KcoreRounds rounds — " +
          "raise KcoreRounds (and regenerate the unrolled oracle)")
      alive = confirm
    }
    alive.select(col("node"), col("deg").as("core_deg"))
      .orderBy("node")
  }

  /** The oracle unrolls exactly [[KcoreRounds]] peel rounds — identical
    * to the Spark fixpoint whenever the require above held. Every CTE is
    * MATERIALIZED: DuckDB otherwise inlines a CTE at each reference, and
    * `eds` is referenced 2×(rounds+1) times — re-deriving the basket
    * self-join 18 times spills temp storage at sf0.1. */
  val q41dSql: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT e.u AS node FROM eds e
         |  JOIN a${r - 1} x ON x.node = e.u
         |  JOIN a${r - 1} y ON y.node = e.v
         |  GROUP BY e.u HAVING count(*) >= 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH i AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p AS MATERIALIZED (
       |      SELECT a.l_partkey AS a, b.l_partkey AS b
       |      FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey
       |        AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |eds AS MATERIALIZED (
       |        SELECT a AS u, b AS v FROM p
       |        UNION ALL SELECT b, a FROM p),
       |a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM eds),
       |$rounds
       |SELECT e.u AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM eds e
       |JOIN a$KcoreRounds x ON x.node = e.u
       |JOIN a$KcoreRounds y ON y.node = e.v
       |GROUP BY e.u ORDER BY node""".stripMargin
  }

  // ----------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q41_pagerank" -> (q41_pagerank _),
    "q41b_lpa" -> (q41b_lpa _),
    "q41c_components" -> (q41c_components _),
    "q41d_kcore" -> (q41d_kcore _),
    "q44_triangles" -> (q44_triangles _),
    "q44b_clustering" -> (q44b_clustering _))

  def oracles: Map[String, String] = Map(
    "q41_pagerank" -> q41Sql,
    "q41b_lpa" -> q41bSql,
    "q41c_components" -> q41cSql,
    "q41d_kcore" -> q41dSql,
    "q44_triangles" -> q44Sql,
    "q44b_clustering" -> q44bSql)
}
