package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Measured microbatch throughput of the FULL CDC dispatch pipeline
  * (decode → filters → schema attach → tx assembly → envelope), the
  * streaming analogue of the reference's one published metric family
  * (BASELINE.md: 1–3 ms per-event relay latency, single-threaded JS
  * worker ≈ 10³ events/s order of magnitude).
  *
  * CdcThroughputSpec runs it per `sbt test` and owns the regression
  * floor (>10k ev/s) and the every-tx-assembled sanity. It runs on
  * the test session's MemoryStream, not the daemon's source, state
  * store or partition count; the shipped daemon's latency and drain
  * rate are measured by the `perfbench` `cdc_trickle` workload.
  *
  * Measurement shape (the spec's original design, lifted): a synthetic
  * jsoncdc stream of `nTx` begin/insert/commit transactions through
  * [[TxAssembly.decodeToEvents]] → [[CdcPipeline.run]]. The first
  * quarter is an UNTIMED warm batch — plan/codegen compiles on first
  * rows, but the C2 JIT only compiles the hot interpreted paths
  * (JsonToStructs is CodegenFallback) after thousands of iterations;
  * a token warm-up leaves the timed batch 3–10× under steady state
  * (measured: 9k ev/s cold vs ~40k warm). The memory sink keeps the
  * assembled transactions countable for the spec's sanity assertion. */
object ThroughputProbe {

  /** events/secs over the timed batch; `transactions` = assembled tx
    * rows observed at the sink (the correctness sanity: every tx in
    * the timed+warm stream must assemble exactly once).
    * `latencyP50Ms`/`latencyP99Ms` = per-microbatch end-to-end wall
    * latency percentiles from the small-batch phase — the reference's
    * ONE published number is a relay latency (BASELINE.md: 1–3 ms per
    * event, single-process), and a throughput figure alone doesn't
    * answer "how stale is a relayed event" under microbatching.
    * The latency phase is a smoke of [[latBatches]] batches (the path
    * compiles, runs and yields positive walls), not a percentile
    * estimate. */
  case class Result(events: Long, secs: Double, eventsPerSec: Double,
      transactions: Long, latencyP50Ms: Double, latencyP99Ms: Double)

  /** Transactions in the stream: 3 lines each, the first quarter warm. */
  val nTx = 20000
  /** Small batches in the latency phase. */
  private val latBatches = 5

  def run(spark: SparkSession): Result = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lines = (0 until nTx).iterator.flatMap { i =>
      Iterator(
        ("pg1", i * 3L, s"""{"begin": $i}"""),
        ("pg1", i * 3L + 1,
          s"""{"insert": {"id": $i, "v": "x$i"}, "table": "t"}"""),
        ("pg1", i * 3L + 2,
          s"""{"commit": $i, "t": "2024-01-01 00:00:00"}"""))
    }.toSeq
    val mem = MemoryStream[(String, Long, String)]
    val out = CdcPipeline.run(
      TxAssembly.decodeToEvents(mem.toDF.toDF("backend", "seq", "line")),
      emitTransaction = true)
    val name = s"graft_thr_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val warm = lines.take(lines.size / 4)
      mem.addData(warm: _*)
      q.processAllAvailable()
      val t0 = System.nanoTime()
      mem.addData(lines.drop(warm.size): _*)
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val n = lines.size - warm.size
      val tx = spark.table(name)
        .filter(col("kind") === "transaction").count()
      // LATENCY phase: the big timed batch measures THROUGHPUT (events
      // drained per second at saturation); a relayed event's staleness
      // is a different number — the end-to-end wall time of one small
      // microbatch (arrive → decode → assemble → sink visible), which
      // at saturation is hidden inside the batch. latBatches batches of
      // 50 tx (150 events — a realistic per-trigger CDC trickle), each
      // timed addData→processAllAvailable; p50/p99 over the batch walls.
      // Fresh tx ids past nTx keep pk/assembly semantics intact. Runs
      // strictly after the throughput measurement so it can't slow it.
      val latTx = 50
      val latencies = (0 until latBatches).map { b =>
        val rows = (0 until latTx).flatMap { j =>
          val i = nTx + b * latTx + j
          Seq(
            ("pg1", i * 3L, s"""{"begin": $i}"""),
            ("pg1", i * 3L + 1,
              s"""{"insert": {"id": $i, "v": "x$i"}, "table": "t"}"""),
            ("pg1", i * 3L + 2,
              s"""{"commit": $i, "t": "2024-01-01 00:00:00"}"""))
        }
        val b0 = System.nanoTime()
        mem.addData(rows: _*)
        q.processAllAvailable()
        (System.nanoTime() - b0) / 1e6
      }.sorted
      def pct(p: Double): Double =
        latencies(math.min(latencies.size - 1,
          math.ceil(p * latencies.size).toInt - 1))
      Result(n, secs, n / secs, tx, pct(0.50), pct(0.99))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name) // free the sink's driver memory
    }
  }
}
