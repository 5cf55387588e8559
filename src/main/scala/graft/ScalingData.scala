package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Deterministic SCALING-LADDER fixture generator — the data half of
  * the empirical growth audit ([[graft.plans.ScalingAudit]]).
  *
  * ## Why the driver fixtures aren't enough
  *
  * The scaling fit needs two near-equal growth steps of the PRIMARY
  * input with a first difference above the noise floor. The driver's
  * `/root/testdata` ladder (TESTDATA.md, read-only) fails that twice
  * over: `documents` holds 500 rows at BOTH sf0.001 and sf0.01
  * (embeddings 500/500/2000) — a degenerate scale axis `fitSized`
  * rightly refuses — and the TPC-H/events tables, while growing a
  * clean 10× per directory, are so small at the bottom rung that 27 of
  * 40 risk queries' first differences sit under the 0.1 s work-noise
  * floor (all overhead, no signal). Round 8 therefore shipped 33/40
  * honest `exponent: null`.
  *
  * ## What this generates
  *
  * Four ladders under `scalingdata/` (gitignored — ~1 GB, minutes to
  * regenerate, byte-deterministic), each three rungs `r1/r2/r3` a
  * clean 10× apart, every rung a full star schema so any query can
  * run against any rung:
  *
  *   - `core`: testdata-sf0.01-equivalent up to sf1-equivalent —
  *     orders 15k→1.5M, lineitem ~60k→~6M, events 10k→1M, customer
  *     1.5k→150k, part 2k→200k, supplier 100→10k, documents
  *     500→50k, embeddings 200→20k. Sized so the SHINGLE-HEAVY dedup
  *     family (contain/cluster/keep_best/ngram/minhash, ~5 s of kernel
  *     work per 1k docs) and the n^1.5 semdedup stay tractable at r3.
  *   - `big`: documents 5k→500k and embeddings 2k→200k, other tables
  *     pinned at core-r1 size — the second decade for the CHEAP
  *     document/embedding queries (zipf, BPE, mix, pack, shuffle,
  *     phrase, knn, kmeans, embed-LSH) whose data term is too small to
  *     clear the noise floor below ~5k docs. Two ladders, not one,
  *     because one ladder cannot be simultaneously big enough at the
  *     bottom for the cheap family and small enough at the top for the
  *     quadratic-risk family.
  *   - `heaps`: documents 1500→150k with a GROWING vocabulary — Zipf-
  *     distributed draws over V(n) = ⌈√(54·n)⌉ words (Heaps' law with
  *     β = 0.5 over the ~54·n token mass; Heaps 1978, Baeza-Yates &
  *     Navarro 2000 measure β ≈ 0.4–0.6 on natural corpora) — and
  *     part 6000→600k with a name vocabulary growing ≈ √n. The other
  *     two ladders deliberately keep the driver fixture's CONSTANT
  *     31-word vocabulary, which makes shared-shingle candidate mass
  *     Θ(n²/|U|) with |U| fixed — an honest property of that corpus,
  *     but NOT of natural text, where |U| grows and prefix filters
  *     prune. This ladder turns the "the same plan prunes on natural
  *     text" scaladoc claim (q22_dedup_ngram, q17b_fuzzy) into a
  *     measured exponent. Vocabulary ranks map to stable pseudo-words
  *     (rank r is the same word at every rung), so growth means NEW
  *     words appear — exactly Heaps — rather than the whole corpus
  *     re-labeling.
  *   - `graph`: orders 50k→5M with customers growing in the fixture's
  *     10-orders-per-customer ratio (5k→500k), everything else pinned
  *     at core-r1 size — the rung band for the iterative-graph
  *     entries whose referral graph derives from (orders, customers):
  *     on core their bottom rung's work first difference sits inside
  *     its own sample scatter (q41_pagerank: d1 ≈ 0.3 s on ~0.5 s of
  *     work — the r11/r12 committed-vs-check fit swings), so the fit
  *     coin-flips run to run even at 5 samples. Keeping the
  *     orders/customer ratio keeps the synthetic edge DENSITY law
  *     identical to core (edges ≈ distinct orders, nodes = customers),
  *     so the measured exponent speaks for the same graph family.
  *     lineitem still derives from orders (Poisson 4) but against the
  *     PINNED part/supplier universe — the lineitem-reading graph
  *     entries (q41c/q41d) deliberately stay on core.
  *   - `vec`: embeddings 2k→200k, other tables pinned at core-r1 size
  *     — the rung band for BOTH semdedup twins: the adaptive-k entry
  *     (q23_semdedup_adaptive), whose Θ(n^1.5) work (k ≈ √n sizing:
  *     n·k·d assignment + n²/k within-cluster pairs) is all-overhead
  *     on core's 200-vector bottom rung and minutes-per-sample at
  *     big's 2M top rung, and the fixed-k entry (q23_semdedup), whose
  *     Θ(n²/k) pair term at pinned k = 8 only clears the noise floor
  *     past ~20k vectors (its core-ladder fit read 0.20 —
  *     all-overhead, no growth signal).
  *
  * ## Distribution fidelity
  *
  * Every column reproduces the measured marginals (and the joint
  * structure the risk queries consume) of the driver fixtures, so the
  * fitted exponents speak for the same data family the correctness
  * gate runs on: orders/customer/part/supplier/lineitem keep the
  * TESTDATA ratios (10 orders per customer, Poisson(4) lines per
  * order, uniform part/supp draws — the co-purchase pair mass that
  * drives q41d/q42b grows the same way), events keep the fixed 30-day
  * window with users = 1.5% of rows (per-user density and funnel/
  * session shape preserved), documents keep the 31-word vocabulary,
  * 8–100 words per doc, lang weights (en 0.40, zh/es/fr/de 0.15) and
  * the ~0.4% exact / ~0.6% mutated-copy duplicate mass, embeddings
  * keep unit-norm 64-dim vectors with the weak 10-label centroid
  * signal (mean cosine-to-centroid ≈ 0.065, no planted near-dups).
  * Region/nation are copied verbatim from the driver fixture (scale-
  * independent 5/25 rows).
  *
  * Every row is a PURE function of (table, id, rung cardinalities) via
  * splitmix64-derived seeds — regeneration is byte-identical, so the
  * committed `scaling_exponents.json` and the `--check` drift gate
  * stay comparable across sessions without committing the parquet. */
object ScalingData {

  /** Default ladder base, relative to the repo root (gitignored). */
  val defaultBase = "scalingdata"

  /** Rung sub-directories, smallest first, a decade apart. */
  val rungs: Seq[String] = Seq("r1", "r2", "r3")

  /** Ladder names — see the object scaladoc for the split rationale. */
  val ladders: Seq[String] = Seq("core", "big", "heaps", "vec", "graph")

  def dirs(base: String, ladder: String): Seq[String] =
    rungs.map(r => s"$base/$ladder/$r")

  /** Per-rung row targets (lineitem is derived: Poisson(4) per order). */
  private[graft] def sizes(ladder: String, rung: Int): Map[String, Long] = {
    val m = math.pow(10, rung).toLong // 1, 10, 100
    ladder match {
      case "core" => Map(
        "customer" -> 1500L * m, "supplier" -> 100L * m,
        "part" -> 2000L * m, "orders" -> 15000L * m,
        // events ×3 the testdata-equivalent rung: the flattest events
        // query (q12_asof, union-and-carry) needs ~30k rows before its
        // work first difference clears the 0.1 s noise floor
        "events" -> 30000L * m, "documents" -> 500L * m,
        "embeddings" -> 200L * m)
      case "big" => Map( // only documents/embeddings grow
        "customer" -> 1500L, "supplier" -> 100L,
        "part" -> 2000L, "orders" -> 15000L,
        // embeddings a decade over core's top: knn/kmeans per-row cost
        // is tiny (codegen'd dot products), their data term clears the
        // floor only past ~20k vectors
        "events" -> 30000L, "documents" -> 5000L * m,
        "embeddings" -> 20000L * m)
      case "graph" => Map( // orders+customers grow in the fixture ratio
        // 50k orders at r1 puts the pagerank/triangle per-iteration
        // joins' data term ~10x over every noise floor at the BOTTOM
        // step (core's 15k-order r1 leaves d1 inside sample scatter);
        // customers grow with orders so the referral-graph density law
        // (10 orders/customer -> edges ~ orders, nodes = customers)
        // matches core and the documented bounds stay comparable
        "customer" -> 5000L * m, "supplier" -> 100L,
        "part" -> 2000L, "orders" -> 50000L * m,
        "events" -> 30000L, "documents" -> 500L,
        "embeddings" -> 200L)
      case "vec" => Map( // only embeddings grow: 2k -> 200k
        // the adaptive-k semdedup rung band: at core's 200-vector
        // bottom its data term is all-overhead, at big's 2M top its
        // n^1.5 assignment+pair work costs minutes per sample — this
        // band gives both first differences ~10-40s of task time
        "customer" -> 1500L, "supplier" -> 100L,
        "part" -> 2000L, "orders" -> 15000L,
        "events" -> 30000L, "documents" -> 500L,
        "embeddings" -> 2000L * m)
      case "heaps" => Map( // documents/part grow, WITH their vocabularies
        "customer" -> 1500L, "supplier" -> 100L,
        // part ×3 the core-equivalent rung: the fuzzy matcher's
        // per-row cost is tiny (scan + distinct; the levenshtein core
        // is vocabulary-bounded), so below ~6k parts its work first
        // difference sits under the 0.1 s noise floor
        "part" -> 6000L * m, "orders" -> 15000L,
        // documents ×3 the core-equivalent rung: the shingle kernels
        // carry a ~9 s fixed cost at 32 tasks, so the 500→5k step's
        // data term sat UNDER the 5% relative floor and the
        // ngram@heaps fit flip-flopped run to run; at 1.5k→150k both
        // first differences clear every floor by design
        "events" -> 30000L, "documents" -> 1500L * m,
        "embeddings" -> 200L)
      case other => throw new IllegalArgumentException(s"ladder: $other")
    }
  }

  // ------------------------------------------------------------ RNG
  /** splitmix64 finalizer — decorrelates consecutive ids before they
    * seed java.util.Random (whose own scramble is too weak for
    * adjacent seeds). */
  private[graft] def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(id: Long, salt: Long): java.util.Random =
    new java.util.Random(mix(id ^ mix(salt)))

  private def round2(v: Double): Double = math.rint(v * 100) / 100

  /** Knuth Poisson(4) — the measured lines-per-order law (orders with
    * zero lines exist in the fixture too: ~1.8%). */
  private def poisson4(r: java.util.Random): Int = {
    val limit = math.exp(-4.0)
    var k = 0
    var p = 1.0
    while ({ p *= r.nextDouble(); p > limit }) k += 1
    k
  }

  // ------------------------------------------------------- row model
  case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
      s_acctbal: Double)
  case class Part(p_partkey: Long, p_name: String, p_brand: String,
      p_type: String, p_size: Int, p_retailprice: Double)
  case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.time.LocalDateTime,
      o_orderpriority: String)
  case class Line(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: java.time.LocalDateTime)
  case class Event(event_id: Long, ts: java.time.LocalDateTime,
      user_id: Long, event_type: String, value: Double, props: String)
  case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  private val segments =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjs =
    Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns =
    Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val ptypes =
    Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val returnFlags = Array("A", "N", "R")
  private val lineStatuses = Array("F", "O")
  private val eventTypes =
    Array("click", "error", "purchase", "signup", "view")

  private val dayUs = 86400000000L
  /** 1995-01-01T00:00Z in epoch days (orderdate window start). */
  private val orderEpochDay = 9131L
  private val orderDays = 2404 // ..2001-08-01, measured window
  private val shipDays = 2498 // 1995-01-02..2001-11-04, independent draw
  /** 2024-01-01T00:00Z epoch micros (events window start, 30 days). */
  private val eventsStartUs = 1704067200000000L
  private val eventsWindowUs = 30L * dayUs

  /** NTZ timestamp at epoch micros — the fixture's timestamp[_ntz]
    * (every session pins UTC, so NTZ == instant here). */
  private def ts(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      math.floorDiv(us, 1000000L), (math.floorMod(us, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC)

  // ----------------------------------------------- per-row functions
  // Every generator takes `off` (default 0 = the byte-deterministic
  // ladder stream): XOR'd into the per-table salt before the splitmix
  // scramble, it yields a fully decorrelated value stream per seed —
  // the reseeded float-risk fixture (r13 verdict item 5) re-rolls the
  // data magnitudes that a byte-deterministic fixture would pin, so a
  // cast-divergence class (the q19c bug) can't stay masked until a
  // size change happens to trip it.
  private[graft] def customer(id: Long, off: Long = 0L): Customer = {
    val r = rng(id, 0xC0C0L ^ off)
    Customer(id, f"Customer#$id%09d", r.nextInt(25),
      round2(-1000 + r.nextDouble() * 11000), segments(r.nextInt(5)))
  }

  private[graft] def supplier(id: Long, off: Long = 0L): Supplier = {
    val r = rng(id, 0x50FFL ^ off)
    Supplier(id, f"Supplier#$id%09d", r.nextInt(25),
      round2(-1000 + r.nextDouble() * 11000))
  }

  private[graft] def part(id: Long, off: Long = 0L): Part = {
    val r = rng(id, 0x9A27L ^ off)
    Part(id, s"${adjs(r.nextInt(8))} ${nouns(r.nextInt(8))}",
      s"Brand#${1 + r.nextInt(25)}", ptypes(r.nextInt(6)),
      1 + r.nextInt(50), 900.0 + 0.1 * (id % 1000))
  }

  private[graft] def order(id: Long, nCust: Long, off: Long = 0L): Order = {
    val r = rng(id, 0x08DEL ^ off)
    Order(id, math.floorMod(r.nextLong(), nCust), statuses(r.nextInt(3)),
      round2(1000 + r.nextDouble() * 499000),
      ts((orderEpochDay + r.nextInt(orderDays + 1)) * dayUs),
      priorities(r.nextInt(5)))
  }

  /** The Poisson(4) basket for one order — the joint (basket, item)
    * structure q41d_kcore / q42b_triples peel. */
  private[graft] def lines(orderId: Long, nPart: Long, nSupp: Long,
      off: Long = 0L): Seq[Line] = {
    val r = rng(orderId, 0x11EAL ^ off)
    (0 until poisson4(r)).map { i =>
      Line(orderId, math.floorMod(r.nextLong(), nPart),
        math.floorMod(r.nextLong(), nSupp), 1 + (i % 7),
        (1 + r.nextInt(50)).toDouble,
        round2(900 + r.nextDouble() * 104100),
        r.nextInt(11) * 0.01, r.nextInt(9) * 0.01,
        returnFlags(r.nextInt(3)), lineStatuses(r.nextInt(2)),
        ts((orderEpochDay + 1 + r.nextInt(shipDays + 1)) * dayUs))
    }
  }

  /** Stratified-uniform timestamps keep events sorted by id (the
    * fixture's event_id IS the ts order) without a generation-time
    * sort; the 30-day window is FIXED across rungs, like the driver
    * fixture across SFs — event density, not duration, scales. */
  private[graft] def event(id: Long, n: Long, off: Long = 0L): Event = {
    val r = rng(id, 0xE7E7L ^ off)
    val users = math.max(1L, (n * 15) / 1000) // measured 1.5% of rows
    val t = eventsStartUs +
      ((id.toDouble + r.nextDouble()) * eventsWindowUs / n).toLong
    Event(id, ts(t), math.floorMod(r.nextLong(), users),
      eventTypes(r.nextInt(5)),
      round2(-50.0 * math.log1p(-r.nextDouble())), // Exp(mean 50)
      s"""{"k": ${r.nextInt(100)}}""")
  }

  private val docVocab = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  private val docLangs = Array("zh", "es", "fr", "de")

  /** A doc's ORIGINAL word salad — pure in id so a duplicate row can
    * re-derive its source text without a join. */
  private def baseWords(id: Long, off: Long = 0L): Array[String] = {
    val r = rng(id, 0xD0C5L ^ off)
    Array.fill(8 + r.nextInt(93))(docVocab(r.nextInt(docVocab.length)))
  }

  private[graft] def doc(id: Long, off: Long = 0L): Doc = {
    val r = rng(id, 0x0D0CL ^ off)
    val roll = r.nextDouble()
    def sourceId: Long = id - 1 - math.floorMod(r.nextLong(),
      math.min(id, 2000L))
    val words =
      if (id < 10 || roll >= 0.010) baseWords(id, off)
      else if (roll < 0.004) baseWords(sourceId, off) // exact copy
      else baseWords(sourceId, off).map(w => // mutated near-copy
        if (r.nextDouble() < 0.05) docVocab(r.nextInt(docVocab.length))
        else w)
    val text = words.mkString(" ")
    val d = r.nextDouble()
    val lang = if (d < 0.4) "en" else docLangs(((d - 0.4) / 0.15).toInt.min(3))
    Doc(id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  // ------------------------------------------------ heaps-ladder rows
  /** Stable pseudo-word for a vocabulary rank: rank r is the SAME
    * word at every rung (vocabulary growth appends new words — Heaps'
    * law — instead of re-labeling the corpus). 3–9 lowercase letters;
    * the rare rank collision merges two ranks, which only makes the
    * effective vocabulary marginally smaller. */
  private[graft] def pword(rank: Long, salt: Long): String = {
    val r = rng(rank, salt)
    val len = 3 + r.nextInt(7)
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  /** Heaps-law vocabulary size for an n-document rung: V = ⌈√(54·n)⌉
    * over the ~54·n token mass (β = 0.5), floored at the fixture's 31
    * so the smallest rung is never LESS diverse than the constant-
    * vocabulary ladders. */
  private[graft] def heapsVocabSize(nDocs: Long): Int =
    math.max(docVocab.length,
      math.ceil(math.sqrt(54.0 * nDocs)).toInt)

  /** Cumulative harmonic weights for Zipf(s=1) over a V-word
    * vocabulary, cached per V (one array per rung, shared across the
    * generation tasks of this JVM). */
  private val zipfCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private def zipfCum(v: Int): Array[Double] =
    zipfCache.computeIfAbsent(v, _ => {
      val a = new Array[Double](v)
      var s = 0.0
      var i = 0
      while (i < v) { s += 1.0 / (i + 1); a(i) = s; i += 1 }
      a
    })

  /** One Zipf(s=1) draw over the first `v` vocabulary ranks — the
    * word-frequency law of natural text (stopword-heavy head, long
    * rare tail), so prefix filters have rare shingles to key on. */
  private def zipfWord(r: java.util.Random, v: Int): String = {
    val cum = zipfCum(v)
    val u = r.nextDouble() * cum(v - 1)
    var lo = 0
    var hi = v - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) >= u) hi = mid else lo = mid + 1
    }
    pword(lo.toLong, 0x6EA5L)
  }

  /** A heaps-ladder doc's ORIGINAL words — pure in (id, vocab size). */
  private def baseWordsHeaps(id: Long, v: Int): Array[String] = {
    val r = rng(id, 0xB0DCL)
    Array.fill(8 + r.nextInt(93))(zipfWord(r, v))
  }

  /** Heaps-ladder document: same length law, lang weights, source and
    * duplicate mass as [[doc]], but words drawn Zipf over the rung's
    * grown vocabulary. */
  private[graft] def docHeaps(id: Long, nDocs: Long): Doc = {
    val v = heapsVocabSize(nDocs)
    val r = rng(id, 0x0D1CL)
    val roll = r.nextDouble()
    def sourceId: Long = id - 1 - math.floorMod(r.nextLong(),
      math.min(id, 2000L))
    val words =
      if (id < 10 || roll >= 0.010) baseWordsHeaps(id, v)
      else if (roll < 0.004) baseWordsHeaps(sourceId, v) // exact copy
      else baseWordsHeaps(sourceId, v).map(w => // mutated near-copy
        if (r.nextDouble() < 0.05) zipfWord(r, v) else w)
    val text = words.mkString(" ")
    val d = r.nextDouble()
    val lang = if (d < 0.4) "en" else docLangs(((d - 0.4) / 0.15).toInt.min(3))
    Doc(id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  /** Heaps-ladder part: name vocabulary ≈ √n (a² two-token names with
    * a = ⌈n^0.25⌉) instead of the fixture's constant 64 — the fuzzy-
    * match quadratic core (distinct names²) then grows ≈ n, which is
    * the vocabulary-bounded design claim as a measurable exponent. */
  private[graft] def partHeaps(id: Long, nPart: Long): Part = {
    val r = rng(id, 0x9B27L)
    val a = math.max(4, math.ceil(math.pow(nPart.toDouble, 0.25)).toInt)
    val name = s"${pword(r.nextInt(a).toLong, 0xAD11L)} " +
      s"${pword(r.nextInt(a).toLong, 0x0B07L)}"
    Part(id, name, s"Brand#${1 + r.nextInt(25)}", ptypes(r.nextInt(6)),
      1 + r.nextInt(50), 900.0 + 0.1 * (id % 1000))
  }

  /** Unit-norm centroids of the 10 labels (weak signal, like the
    * fixture: mean cosine to own centroid ≈ 0.065, cross ≈ 0). */
  private lazy val centroids: Array[Array[Double]] =
    Array.tabulate(10) { l =>
      val r = new java.util.Random(mix(0xCE47L ^ l.toLong))
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }

  private[graft] def vec(id: Long, off: Long = 0L): Vec = {
    val r = rng(id, 0xE3B0L ^ off)
    val label = r.nextInt(10)
    val c = centroids(label)
    val raw = Array.tabulate(64)(i => r.nextGaussian() + 0.5 * c(i))
    val n = math.sqrt(raw.map(x => x * x).sum)
    Vec(id, raw.map(x => (x / n).toFloat), label)
  }

  // ------------------------------------------------------ generation
  /** Fixed 4-way generation split at every rung: constant file count
    * keeps scan-shape identical across rungs (the fit must measure
    * data growth, not a file-layout change). */
  private val genSlices = 4

  private def ids(spark: SparkSession, n: Long) =
    spark.range(0, n, 1, genSlices)

  private[graft] def table(spark: SparkSession, name: String,
      sz: Map[String, Long], heaps: Boolean = false,
      off: Long = 0L): DataFrame = {
    import spark.implicits._
    def n = sz(name) // lineitem's row count is derived, not in the map
    name match {
      case "customer" => ids(spark, n).map(id => customer(id, off)).toDF()
      case "supplier" => ids(spark, n).map(id => supplier(id, off)).toDF()
      case "part" =>
        if (heaps) { val np = n; ids(spark, np).map(id => partHeaps(id, np)).toDF() }
        else ids(spark, n).map(id => part(id, off)).toDF()
      case "orders" =>
        ids(spark, n).map(id => order(id, sz("customer"), off)).toDF()
      case "lineitem" => ids(spark, sz("orders"))
        .flatMap(id => lines(id, sz("part"), sz("supplier"), off)).toDF()
      case "events" => ids(spark, n).map(id => event(id, n, off)).toDF()
      case "documents" =>
        if (heaps) { val nd = n; ids(spark, nd).map(id => docHeaps(id, nd)).toDF() }
        else ids(spark, n).map(id => doc(id, off)).toDF()
      case "embeddings" => ids(spark, n).map(id => vec(id, off)).toDF()
      case other => throw new IllegalArgumentException(s"table: $other")
    }
  }

  /** Tables generated here (region/nation are copied from the driver
    * fixture — scale-independent 5/25 rows). */
  private val generated = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def copyFixture(src: String, dir: String, name: String): Unit = {
    val from = Paths.get(s"$src/$name.parquet")
    require(Files.isRegularFile(from), s"fixture file missing: $from")
    Files.copy(from, Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def marker(dir: String) = Paths.get(dir, "_GRAFT_LADDER_OK")

  def rungComplete(dir: String): Boolean = Files.isRegularFile(marker(dir))

  /** Generate every incomplete rung of both ladders under `base`.
    * Idempotent and byte-deterministic; a rung with its marker file is
    * skipped, a partially-written rung is overwritten whole. */
  def ensure(spark: SparkSession, base: String,
      fixtureSf: String = "/root/testdata/sf0.001"): Unit =
    for (ladder <- ladders; (dir, rung) <- dirs(base, ladder).zipWithIndex)
      if (!rungComplete(dir)) {
        val sz = sizes(ladder, rung)
        System.err.println(s"[ladder] generating $dir " +
          s"(orders=${sz("orders")}, documents=${sz("documents")})")
        Files.createDirectories(Paths.get(dir))
        copyFixture(fixtureSf, dir, "region")
        copyFixture(fixtureSf, dir, "nation")
        generated.foreach { t =>
          table(spark, t, sz, heaps = ladder == "heaps")
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$dir/$t.parquet")
        }
        Files.write(marker(dir), Array.emptyByteArray)
      }

  /** Reseeded sf0.001-equivalent fixture (r13 verdict item 5): the
    * driver-fixture table sizes, every row-function salt XOR'd with
    * `seed` — a different value stream per seed, deterministic within
    * one. tools/float_risk_check.sh generates one per round (seed =
    * round number) and runs the float-risk Verify subset against it,
    * so cross-engine cast/tie divergences that depend on specific data
    * magnitudes get re-rolled every round instead of staying masked by
    * the byte-deterministic driver fixture until a size change trips
    * them (how the q19c corr bug stayed invisible for 12 rounds). */
  def reseeded(spark: SparkSession, dir: String, seed: Long,
      fixtureSf: String = "/root/testdata/sf0.001"): Unit = {
    val sz = Map( // the measured driver sf0.001 row counts
      "customer" -> 150L, "supplier" -> 10L, "part" -> 200L,
      "orders" -> 1500L, "events" -> 1000L, "documents" -> 500L,
      "embeddings" -> 500L)
    System.err.println(s"[fixture] reseeded sf0.001-equivalent at $dir " +
      s"(seed=$seed)")
    Files.createDirectories(Paths.get(dir))
    copyFixture(fixtureSf, dir, "region")
    copyFixture(fixtureSf, dir, "nation")
    generated.foreach { t =>
      table(spark, t, sz, off = seed)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_LADDER_BASE")).getOrElse(defaultBase)
    val spark = Harness.session()
    ensure(spark, base)
    spark.stop()
  }
}

/** `tools/run_main.sh graft.FloatFixture <dir> <seed>` — generate the
  * reseeded float-risk fixture (see [[ScalingData.reseeded]]). */
object FloatFixture {
  def main(args: Array[String]): Unit = {
    val Array(dir, seedStr) = args.take(2)
    val spark = Harness.session()
    ScalingData.reseeded(spark, dir, java.lang.Long.parseLong(seedStr))
    spark.stop()
  }
}
