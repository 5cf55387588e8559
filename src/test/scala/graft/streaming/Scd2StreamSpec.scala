package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.cdc.JsonCdc
import graft.queries.CdcOps
import graft.sinks.VersionedState

/** The streaming SCD2 loop must equal the full rebuild on any slicing
  * of the same (per-key-ordered) stream, and keep the versioned-state
  * crash contract. */
class Scd2StreamSpec extends SparkSpec {

  private def events = JsonCdc.decode(CdcOps.interleavedHistory(spark, sfDir))
    .filter(col("kind").isin("insert", "update", "delete"))
    .select(col("pk").cast("long").as("pk"), col("seq"), col("kind"),
      get_json_object(col("item"), "$.rev").cast("long").as("rev"),
      get_json_object(col("item"), "$.status").as("status"))

  private def tableSeq(dir: String) =
    Scd2Stream.table(spark, dir).orderBy("pk", "valid_from").collect().toSeq

  test("three-chunk replay equals the full SCD2 rebuild — the " +
      "interleaved fixture's epochs make every chunk boundary cut " +
      "chains mid-version") {
    val dir = tempDir("graft-scd2s")
    val ev = events.localCheckpoint()
    val maxSeq = ev.agg(max(col("seq"))).head.getLong(0)
    val (c1, c2) = (maxSeq / 3, 2 * maxSeq / 3)
    Scd2Stream.processBatch(ev.filter(col("seq") <= c1), 0, dir)
    Scd2Stream.processBatch(
      ev.filter(col("seq") > c1 && col("seq") <= c2), 1, dir)
    Scd2Stream.processBatch(ev.filter(col("seq") > c2), 2, dir)
    val full = CdcOps.scd2Chains(ev).orderBy("pk", "valid_from")
      .collect().toSeq
    assert(tableSeq(dir) == full)
  }

  test("a re-delivered batch recomputes the same table (idempotent)") {
    val dir = tempDir("graft-scd2r")
    val ev = events.localCheckpoint()
    val maxSeq = ev.agg(max(col("seq"))).head.getLong(0)
    val cut = maxSeq / 2
    Scd2Stream.processBatch(ev.filter(col("seq") <= cut), 0, dir)
    val b1 = ev.filter(col("seq") > cut)
    Scd2Stream.processBatch(b1, 1, dir)
    val once = tableSeq(dir)
    Scd2Stream.processBatch(b1, 1, dir) // crash-replay of batch 1
    assert(tableSeq(dir) == once)
  }

  test("a batch-id gap fails loudly instead of silently restarting " +
      "history from empty state") {
    val dir = tempDir("graft-scd2g")
    val ev = events.localCheckpoint()
    Scd2Stream.processBatch(ev, 0, dir)
    val e = intercept[IllegalArgumentException] {
      Scd2Stream.processBatch(ev.limit(0), 2, dir) // skipped batch 1
    }
    assert(e.getMessage.contains("missing"))
  }

  test("versions older than b-1 are pruned after each commit") {
    val dir = tempDir("graft-scd2p")
    val ev = events.localCheckpoint()
    val maxSeq = ev.agg(max(col("seq"))).head.getLong(0)
    val cut = maxSeq / 2
    Scd2Stream.processBatch(ev.filter(col("seq") <= cut), 0, dir)
    Scd2Stream.processBatch(ev.filter(col("seq") > cut), 1, dir)
    Scd2Stream.processBatch(ev.limit(0), 2, dir)
    assert(VersionedState.versions(s"$dir/scd2").sorted == Seq(1L, 2L))
  }
}
