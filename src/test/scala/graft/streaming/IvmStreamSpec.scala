package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.cdc.JsonCdc
import graft.queries.CdcOps

/** The streaming IVM loop must equal the batch cdc8 aggregate on any
  * slicing of the same stream, and survive foreachBatch re-delivery. */
class IvmStreamSpec extends SparkSpec {

  private def envelopes = JsonCdc.decode(CdcOps.syntheticHistory(spark, sfDir))
    .filter(col("kind").isin("insert", "update", "delete"))
    .select(col("pk").cast("long").as("pk"), col("seq"), col("kind"),
      get_json_object(col("item"), "$.status").as("status"))

  private def countsSet(dir: String): Set[(String, Long)] =
    IvmStream.counts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("three-chunk replay equals the batch cdc8 aggregate — chunk " +
      "boundaries split per-pk histories, exercising the state lookup") {
    val dir = tempDir("graft-ivm")
    val ev = envelopes.localCheckpoint()
    val maxSeq = ev.agg(max(col("seq"))).head.getLong(0)
    val (c1, c2) = (maxSeq / 3, 2 * maxSeq / 3)
    IvmStream.processBatch(ev.filter(col("seq") <= c1), 0, dir)
    IvmStream.processBatch(
      ev.filter(col("seq") > c1 && col("seq") <= c2), 1, dir)
    IvmStream.processBatch(ev.filter(col("seq") > c2), 2, dir)
    val batch = CdcOps.queries("cdc8_ivm")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(countsSet(dir) == batch)
  }

  test("a batch-id gap (checkpoint reset against existing state) fails " +
      "loudly instead of silently restarting from empty state") {
    val dir = tempDir("graft-ivm3")
    val ev = envelopes.localCheckpoint()
    IvmStream.processBatch(ev, 0, dir)
    val e = intercept[IllegalArgumentException] {
      IvmStream.processBatch(ev.limit(0), 2, dir) // skipped batch 1
    }
    assert(e.getMessage.contains("missing"))
  }

  test("attaching mid-history (updates with unknown predecessor) fails " +
      "loudly instead of booking deltas against NULL status") {
    val dir = tempDir("graft-ivm4")
    val ev = envelopes.localCheckpoint()
    // drop every insert: the first batch then opens with updates whose
    // predecessors neither the batch nor the (empty) state knows
    val e = intercept[IllegalArgumentException] {
      IvmStream.processBatch(ev.filter(col("kind") =!= "insert"), 0, dir)
    }
    assert(e.getMessage.contains("predecessor"))
  }

  test("state versions older than b-1 are pruned after each commit") {
    val dir = tempDir("graft-ivm5")
    val ev = envelopes.localCheckpoint()
    val maxSeq = ev.agg(max(col("seq"))).head.getLong(0)
    val third = maxSeq / 3
    IvmStream.processBatch(ev.filter(col("seq") <= third), 0, dir)
    IvmStream.processBatch(
      ev.filter(col("seq") > third && col("seq") <= 2 * third), 1, dir)
    IvmStream.processBatch(ev.filter(col("seq") > 2 * third), 2, dir)
    val versions = new java.io.File(s"$dir/counts").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(versions.toSeq == Seq("batch=1", "batch=2"),
      s"expected only batch=1 and batch=2 to survive, got ${versions.toSeq}")
  }

  test("a re-delivered batch recomputes the same state (idempotent)") {
    val dir = tempDir("graft-ivm2")
    val ev = envelopes.localCheckpoint()
    val maxSeq = ev.agg(max(col("seq"))).head.getLong(0)
    val mid = maxSeq / 2
    IvmStream.processBatch(ev.filter(col("seq") <= mid), 0, dir)
    IvmStream.processBatch(ev.filter(col("seq") > mid), 1, dir)
    val before = countsSet(dir)
    // crash-after-commit replay: the sink re-delivers batch 1 verbatim
    IvmStream.processBatch(ev.filter(col("seq") > mid), 1, dir)
    assert(countsSet(dir) == before)
  }
}
