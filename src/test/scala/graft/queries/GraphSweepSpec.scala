package graft.queries

import graft.SparkSpec

/** Semantic pins for the pointer-doubling (q37) and sweep-line (q38)
  * cores on PLANTED inputs — the corpus oracles prove the fixture
  * shapes; these prove the edge semantics the fixture never reaches
  * (maximum-depth chains, exactly-touching intervals, boundary ties).
  */
class GraphSweepSpec extends SparkSpec {
  import spark.implicits._

  test("pointerDouble resolves a depth-8 chain in exactly 3 rounds") {
    // 1 <- 2 <- ... <- 9: node 9 sits 8 edges from the root, the
    // maximum 3 doubling rounds can span (2^3 = 8)
    val init = (1L to 9L).map(i =>
        if (i == 1L) (i, i, 0L) else (i, i - 1, 1L))
      .toDF("id", "ptr", "d")
    val done = Relational.pointerDouble(init, rounds = 3)
      .select("id", "ptr", "d").as[(Long, Long, Long)].collect().toMap2
    (1L to 9L).foreach { i =>
      val (root, depth) = done(i)
      assert(root == 1L, s"node $i root")
      assert(depth == i - 1, s"node $i depth")
    }
  }

  test("pointerDouble fails loudly when the tree outruns 2^rounds") {
    val init = (1L to 9L).map(i =>
        if (i == 1L) (i, i, 0L) else (i, i - 1, 1L))
      .toDF("id", "ptr", "d")
    val e = intercept[IllegalArgumentException] {
      Relational.pointerDouble(init, rounds = 2).count()
    }
    assert(e.getMessage.contains("unresolved"))
  }

  test("sweepLinePeak: overlapping chain peaks at 2, earliest instant") {
    // win=15: [0,15) [10,25) [20,35) — pairwise overlaps, never 3 deep;
    // first peak moment is t=10
    val ev = Seq(("a", 0L), ("a", 10L), ("a", 20L), ("b", 5L))
      .toDF("event_type", "ts_us")
    val r = FunnelOps.sweepLinePeak(ev, winUs = 15L)
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq(("a", 2L, 10L), ("b", 1L, 5L)))
  }

  test("sweepLinePeak: half-open intervals — touching windows never " +
      "overlap") {
    // [0,30) and [30,60): the -1 at t=30 orders before the +1 at t=30
    val ev = Seq(("a", 0L), ("a", 30L)).toDF("event_type", "ts_us")
    val r = FunnelOps.sweepLinePeak(ev, winUs = 30L)
      .as[(String, Long, Long)].collect()
    assert(r.toSeq == Seq(("a", 1L, 0L)))
  }

  test("intervalUnion: disjoint, chained, and nested islands each " +
      "cover exactly their merged span") {
    // win=10: a: [0,10)+[5,15) merge (len 15), [30,40) alone (len 10)
    //         b: [0,10) with [2,12) nested-overlap → one island len 12
    val ev = Seq(("a", 0L, 1L), ("a", 5L, 2L), ("a", 30L, 3L),
        ("b", 0L, 4L), ("b", 2L, 5L))
      .toDF("event_type", "ts_us", "event_id")
    val r = FunnelOps.intervalUnion(ev, winUs = 10L)
      .select("event_type", "n_islands", "n_intervals", "covered_us")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq(("a", 2L, 3L, 25L), ("b", 1L, 2L, 12L)))
  }

  test("intervalUnion: touching intervals chain into ONE island " +
      "(half-open [s, s+w) semantics)") {
    val ev = Seq(("a", 0L, 1L), ("a", 10L, 2L), ("a", 20L, 3L))
      .toDF("event_type", "ts_us", "event_id")
    val r = FunnelOps.intervalUnion(ev, winUs = 10L)
      .select("n_islands", "covered_us").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 30L)))
  }

  test("intervalUnion: tied start times at an island boundary assign " +
      "both rows to the NEW island") {
    // [0,5) then two intervals both starting at 20: the island break is
    // at the first tied row; both tied rows must land in island 2
    val ev = Seq(("a", 0L, 1L), ("a", 20L, 2L), ("a", 20L, 3L))
      .toDF("event_type", "ts_us", "event_id")
    val r = FunnelOps.intervalUnion(ev, winUs = 5L)
      .select("n_islands", "covered_us").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((2L, 10L)))
  }

  test("sweepLinePeak: identical timestamps stack deterministically") {
    val ev = Seq(("a", 7L), ("a", 7L), ("a", 7L)).toDF("event_type", "ts_us")
    val r = FunnelOps.sweepLinePeak(ev, winUs = 10L)
      .as[(String, Long, Long)].collect()
    assert(r.toSeq == Seq(("a", 3L, 7L)))
  }

  test("pagerank: three integer-exact iterations on a hand-computed " +
      "star graph (A→B, A→C, B→A; C dangling)") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L)).toDF("src", "dst")
    // s0 = 1e6 each. i1: A gets B's 1e6 → 150000+850000 = 1000000;
    //   B,C get A's 500000 each → 575000.
    // i2: A gets 575000 → 638750; B,C get 500000 → 575000.
    // i3: A gets 575000 → 638750; B,C get 638750 div 2 = 319375
    //   → 150000 + (850·319375) div 1000 = 421468.
    val got = GraphOps.pagerank(nodes, edges, 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 638750L, 2L -> 421468L, 3L -> 421468L))
  }

  test("pagerank and labelProp: an edge whose src is not a node " +
      "contributes in no round, round 1 included") {
    // node 3 / node 0 are missing from nodes; round 2's score/label
    // pickup join drops their edges, so round 1 must too
    val nodes = Seq(1L, 2L).toDF("node")
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    def ranks(iters: Int) = GraphOps.pagerank(nodes, edges, iters)
      .as[(Long, Long)].collect().toMap
    // i1: node 2 gets node 1's 1e6 → 1000000; node 1 gets nothing
    //   → 150000. i2: node 2 gets 150000 → 150000 + 127500 = 277500.
    assert(ranks(1) == Map(1L -> 150000L, 2L -> 1000000L))
    assert(ranks(2) == Map(1L -> 150000L, 2L -> 277500L))
    val und = Seq((1L, 2L), (2L, 1L), (0L, 2L)).toDF("src", "dst")
    // node 2 hears label 1 only (a dangling 0 would win the tie)
    val labels = GraphOps.labelProp(nodes, und, 1)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 2L, 2L -> 1L))
  }

  test("pagerank and labelProp: the round-1 shortcut agrees with the " +
      "join when every src is a node") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 4L), (4L, 4L))
      .toDF("src", "dst")
    def ranks(closed: Boolean) = GraphOps.pagerank(nodes, edges, 3,
      srcsInNodes = closed).as[(Long, Long)].collect().toMap
    assert(ranks(closed = true) == ranks(closed = false))
    val und = edges.filter($"src" =!= $"dst")
      .unionAll(edges.filter($"src" =!= $"dst")
        .select($"dst".as("src"), $"src".as("dst")))
    def labels(closed: Boolean) = GraphOps.labelProp(nodes, und, 3,
      srcsInNodes = closed).as[(Long, Long)].collect().toMap
    assert(labels(closed = true) == labels(closed = false))
  }

  test("pagerank: mass conservation bound — every score stays within " +
      "[teleport base, teleport + damped total] on the fixture graph") {
    val r = GraphOps.queries("q41_pagerank")(spark, sfDir)
      .as[(Long, Long)].collect()
    assert(r.nonEmpty)
    assert(r.forall(_._2 >= 150000L))
    val total = r.map(_._2).sum
    // damping leaks dangling-node mass, so the total can only shrink
    // below nodes × 1e6
    assert(total <= r.length * 1000000L)
  }

  test("triangles: K4 plus a pendant edge — 3 per clique corner, " +
      "pendant absent") {
    // K4 on {1,2,3,4} has C(4,3)=4 triangles, each corner in 3 of
    // them; node 5 hangs off 4 and joins none
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = GraphOps.triangles(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: degree orientation matches id-ordered brute force " +
      "on a planted random graph") {
    // deterministic pseudo-random simple graph on 30 nodes — dense
    // enough (p≈0.3) that hubs, ties, and shared wedges all occur
    val rnd = new scala.util.Random(42)
    val pairs = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val expected = {
      val es = pairs.toSet
      val tri = for {
        (a, b) <- pairs; c <- (b + 1) to 30L
        if es.contains((b, c)) && es.contains((a, c))
      } yield Seq(a, b, c)
      tri.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    val got = GraphOps.triangles(pairs.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  private implicit class MapOps(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] =
      rows.map { case (id, p, d) => id -> (p, d) }.toMap
  }
}
