package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.queries.FunnelOps

case class FunnelEv(ts: Timestamp, event_type: String, user_id: Long)

/** S10 streaming funnel: state semantics + equivalence with the
  * oracle-checked batch q29 on the real test corpus. */
class FunnelStreamSpec extends SparkSpec {
  import spark.implicits._

  /** µs-precision Timestamp (the batch fold works in integer µs — a
    * ms-truncating constructor would merge distinct event times and
    * change strict-ordering decisions). */
  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  private def runStream(batches: Seq[Seq[FunnelEv]]): Map[Long, Int] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEv]
    val name = s"funnel_${System.nanoTime()}"
    val q = FunnelStream.stageProgress(mem.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // update mode emits one row per touched user per batch; per-user
    // stage is monotone non-decreasing, so the MAX stage is the final
    // one — no reliance on the memory sink's row order
    spark.table(name).as[(Long, Int)].collect()
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(_._2).max }
  }

  test("stage chain is strict: same-timestamp next-stage events do not " +
      "advance, cross-batch state carries the chain") {
    val got = runStream(Seq(
      // batch 1: signup, then a view at the SAME µs — must not count
      Seq(FunnelEv(tsOf(1000000L), "signup", 1L),
        FunnelEv(tsOf(1000000L), "view", 1L)),
      // batch 2: a later view + click arrive; chain resumes from state
      Seq(FunnelEv(tsOf(2000000L), "view", 1L),
        FunnelEv(tsOf(3000000L), "click", 1L)),
      // batch 3: purchase BEFORE the click's ts — must not advance
      Seq(FunnelEv(tsOf(2500000L), "purchase", 1L))))
    assert(got(1L) == 3,
      "same-µs view must not advance past signup; stale purchase must " +
        "not complete the funnel")
  }

  test("out-of-order WITHIN a batch is sorted; a skipped stage never " +
      "fills retroactively") {
    val got = runStream(Seq(Seq(
      FunnelEv(tsOf(4000000L), "purchase", 7L),
      FunnelEv(tsOf(3000000L), "click", 7L),
      FunnelEv(tsOf(2000000L), "view", 7L),
      FunnelEv(tsOf(1000000L), "signup", 7L))))
    assert(got(7L) == 4, "in-batch sort must reconstruct the full chain")

    val skipped = runStream(Seq(
      Seq(FunnelEv(tsOf(1000000L), "signup", 8L),
        FunnelEv(tsOf(3000000L), "click", 8L)),
      Seq(FunnelEv(tsOf(2000000L), "view", 8L))))
    assert(skipped(8L) == 2,
      "the late view still fills stage 2 (it is after signup and stage " +
        "2 was open), but the click consumed in the EARLIER batch is " +
        "gone — no retroactive replay of already-seen events, the " +
        "documented in-order transport contract")
  }

  test("funnel state survives a checkpoint restart: the chain resumes " +
      "from stages reached before the crash") {
    val dir = tempDir("graft-funnel-restart")
    val schema = "ts TIMESTAMP, event_type STRING, user_id LONG"
    // memory sink cannot recover from a checkpoint; foreachBatch can —
    // append each update batch to parquet, final stage = max over rows
    def startQuery() = FunnelStream.stageProgress(
        spark.readStream.schema(schema).json(s"$dir/in"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Int)], _: Long) =>
        b.write.mode("append").parquet(s"$dir/out"): Unit
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update").start()

    // batch 1: signup + view, then a hard stop (simulated crash)
    Seq(FunnelEv(tsOf(1000000L), "signup", 3L),
      FunnelEv(tsOf(2000000L), "view", 3L)).toDF()
      .coalesce(1).write.mode("append").json(s"$dir/in")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // batch 2: click + purchase arrive only after the restart — they
    // can only complete the funnel if t1/t2 came back from the
    // checkpointed state
    Seq(FunnelEv(tsOf(3000000L), "click", 3L),
      FunnelEv(tsOf(4000000L), "purchase", 3L)).toDF()
      .coalesce(1).write.mode("append").json(s"$dir/in")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val stage = spark.read.parquet(s"$dir/out").as[(Long, Int)].collect()
      .filter(_._1 == 3L).map(_._2).max
    assert(stage == 4,
      "post-restart click+purchase must chain onto the pre-restart " +
        "signup+view recovered from the checkpoint")
  }

  test("streaming funnel over the real corpus == batch q29 counts, fed " +
      "in order across 4 microbatches") {
    val evs = graft.Tables.events(spark, sfDir)
      .filter($"event_type".isin("signup", "view", "click", "purchase"))
      .select($"ts_us", $"event_type", $"user_id")
      .as[(Long, String, Long)].collect()
      .sortBy(e => (e._1, e._2))
      .map(e => FunnelEv(tsOf(e._1), e._2, e._3))
    val batches = evs.grouped((evs.length / 4).max(1)).map(_.toSeq).toSeq
    val finalStage = runStream(batches)

    val batch = FunnelOps.q29_funnel(spark, sfDir)
      .select("stage", "n_users").as[(Int, Long)].collect().toMap
    val streamCounts = (1 to 4).map { k =>
      k -> finalStage.values.count(_ >= k).toLong
    }.toMap
    assert(streamCounts == batch,
      s"per-stage reach must match the oracle-checked batch fold: " +
        s"stream=$streamCounts batch=$batch")
  }
}
