package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming-path analogue of the reference's operational numbers
  * (BASELINE.md: 1–3 ms per-event relay latency, single-threaded JS
  * worker ≈ 10³ events/s order of magnitude): replay a synthetic jsoncdc
  * stream through the FULL dispatch pipeline (decode → filters → schema
  * attach → tx assembly) and measure events/second over a microbatch.
  *
  * The assertion floor is deliberately conservative (10k ev/s on the 4-
  * thread test session) — the point is a regression tripwire plus a
  * measured figure printed for BASELINE bookkeeping, not a tight bench.
  */
class CdcThroughputSpec extends SparkSpec {
  import spark.implicits._

  test("full dispatch pipeline sustains >10k events/s on the test session") {
    // the measurement lives in ThroughputProbe (20000 tx = 60k lines,
    // then a 5-batch latency smoke: the path compiles, runs and yields
    // positive walls); this test owns the regression floor and the
    // every-tx-assembled sanity. The shipped daemon's latency is
    // perfbench's cdc_trickle workload, not this session's.
    val nTx = ThroughputProbe.nTx
    val r = ThroughputProbe.run(spark)
    info(f"pipeline throughput: ${r.events}%d events in ${r.secs}%.2fs = " +
      f"${r.eventsPerSec}%.0f ev/s")
    println(f"[throughput] cdc dispatch pipeline: " +
      f"${r.eventsPerSec}%.0f events/s " +
      f"(${r.events}%d events, ${r.secs}%.2fs, local[4] test session)")
    assert(r.eventsPerSec > 10000,
      f"${r.eventsPerSec}%.0f ev/s below the 10k floor")
    assert(r.transactions == nTx, // sanity: every tx assembled
      s"${r.transactions} assembled transactions, expected $nTx")
    assert(r.latencyP50Ms > 0 && r.latencyP99Ms >= r.latencyP50Ms,
      s"latency phase sanity: p50=${r.latencyP50Ms} p99=${r.latencyP99Ms}")
  }

  test("the stateful dispatch stage spreads its work across one task per " +
      "backend (serial per backend, parallel across backends — " +
      "CdcPipeline.scala:16-21)") {
    implicit val sqlCtx = spark.sqlContext
    // Constant-total-events design: the SAME 144k lines run (a) all on one
    // backend key, (b) spread over 4 backend keys chosen to hash onto 4
    // DISTINCT shuffle partitions (in production thousands of backends
    // spread by the law of large numbers; a 4-key microbenchmark must pick
    // non-colliding names or it measures hash luck). Decode/shuffle/sink
    // work is identical in (a) and (b) — the only variable is how many
    // tasks the keyed stateful op spreads over, the design claim the
    // reference realizes with one OS worker per backend (lapidus.js:88-109).
    //
    // The assertion is on shuffle-read RECORDS per task, not wall-clock:
    // on a single-JVM local[4] session the post-shuffle tasks share one
    // heap, one allocator, and one checkpoint disk, so measured task
    // times are contention-bound and near-constant regardless of key
    // spread (observed: ~900ms x4 concurrent vs ~750ms solo for the same
    // total work). The record spread IS the architecture: Spark schedules
    // one task per state partition, and on a multi-executor cluster those
    // tasks hold disjoint CPUs — the per-backend serial order is kept by
    // the per-key sort inside each group, never by a global funnel.
    val txTotal = 48000 // 144k lines
    def lines(backends: Seq[String]) = (0 until txTotal).flatMap { i =>
      val b = backends(i % backends.size)
      Seq(
        (b, i * 3L, s"""{"begin": $i}"""),
        (b, i * 3L + 1,
          s"""{"insert": {"id": $i, "v": "x$i"}, "table": "t"}"""),
        (b, i * 3L + 2, s"""{"commit": $i, "t": "2024-01-01 00:00:00"}"""))
    }
    // Shuffle-read record counts per task of shuffle-READING stages
    // (parentIds non-empty = the stateful stage; the decode map stage has
    // none), plus task times for the printed record.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerStageCompleted}
    class StageTaskListener extends SparkListener {
      val tasks = scala.collection.concurrent.TrieMap.empty[Int, List[(Long, Long)]]
      val childStages = scala.collection.concurrent.TrieMap.empty[Int, Boolean]
      @volatile var events = 0L
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val rec = Option(e.taskMetrics)
          .map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
        tasks.updateWith(e.stageId)(p =>
          Some((rec, e.taskInfo.duration) :: p.getOrElse(Nil)))
        events += 1
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        childStages += e.stageInfo.stageId -> e.stageInfo.parentIds.nonEmpty
        events += 1
      }
      /** (records, duration) per task of the stateful stage. */
      def statefulTasks: Seq[(Long, Long)] = tasks.collect {
        case (sid, ts) if childStages.getOrElse(sid, false) => ts
      }.flatten.toSeq
    }
    def measure(backends: Seq[String]): Seq[(Long, Long)] = {
      val mem = MemoryStream[(String, Long, String)]
      // Data is added BEFORE the query starts: driver-side row encoding is
      // setup, not pipeline work, and each addData chunk is a separate
      // source partition — a stand-in for a partitioned Kafka topic.
      for (chunk <- lines(backends).grouped(txTotal * 3 / 8))
        mem.addData(chunk: _*)
      val out = CdcPipeline.run(
        TxAssembly.decodeToEvents(mem.toDF.toDF("backend", "seq", "line")),
        emitTransaction = true)
      val listener = new StageTaskListener
      spark.sparkContext.addSparkListener(listener)
      val q = out.writeStream.format("noop")
        .option("checkpointLocation",
          tempDir("graft-scale"))
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // listener bus is async: wait for the event flow to quiesce
        var last = -1L
        while (listener.events != last) {
          last = listener.events; Thread.sleep(250)
        }
        listener.statefulTasks
      } finally {
        q.stop()
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    // keys verified to hash onto shuffle partitions 1 / 0,1,2,3 at
    // spark.sql.shuffle.partitions=4 (murmur3 on the backend key)
    val t1 = measure(Seq("pg1"))
    val t4 = measure(Seq("pg6", "pg1", "pg4", "pg2"))
    val n = txTotal * 3L
    info(s"1 backend: tasks (records,ms) = ${t1.sortBy(-_._1)}")
    info(s"4 backends: tasks (records,ms) = ${t4.sortBy(-_._1)}")
    println(s"[throughput] backend scaling: 1 backend -> stateful-stage " +
      s"task records ${t1.map(_._1).sorted.reverse.mkString("/")}, " +
      s"4 backends -> ${t4.map(_._1).sorted.reverse.mkString("/")} " +
      s"(durations ms ${t4.map(_._2).sorted.reverse.mkString("/")})")
    assert(t1.map(_._1).sorted.reverse == Seq(n, 0L, 0L, 0L),
      "one backend must funnel through exactly one stateful task " +
        "(per-backend serial order)")
    assert(t4.map(_._1).sorted.reverse == Seq(n / 4, n / 4, n / 4, n / 4),
      "4 backends must spread exactly evenly over 4 stateful tasks — " +
        "the parallel-across-backends half of the design claim")
  }
}
