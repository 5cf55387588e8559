package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.CdcOps

/** The streaming join-view IVM loop must equal the batch recompute on
  * any slicing of the interleaved two-sided stream, and survive
  * foreachBatch re-delivery. */
class IvmJoinStreamSpec extends SparkSpec {
  import spark.implicits._

  /** Random interleaved two-sided history as ONE tagged frame
    * (side, pk, seq, kind, ck, st, nat) — join-key-changing order
    * updates, nation moves, deletes on both sides. */
  private def history(seed: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer[
      (String, Long, Long, String, Option[Long], Option[String], Option[Int])]()
    var seq = 0L
    val oAlive = scala.collection.mutable.Set[Long]()
    val cAlive = scala.collection.mutable.Set[Long]()
    for (_ <- 1 to 150) {
      seq += 1
      if (rnd.nextBoolean()) {
        val k = 1L + rnd.nextInt(12)
        if (!oAlive(k)) { oAlive += k
          rows += (("o", k, seq, "insert", Some(1L + rnd.nextInt(6)),
            Some(s"S${rnd.nextInt(3)}"), None))
        } else if (rnd.nextInt(4) == 0) { oAlive -= k
          rows += (("o", k, seq, "delete", None, None, None))
        } else rows += (("o", k, seq, "update", Some(1L + rnd.nextInt(6)),
          Some(s"S${rnd.nextInt(3)}"), None))
      } else {
        val k = 1L + rnd.nextInt(6)
        if (!cAlive(k)) { cAlive += k
          rows += (("c", k, seq, "insert", Some(k), None,
            Some(rnd.nextInt(3))))
        } else if (rnd.nextInt(5) == 0) { cAlive -= k
          rows += (("c", k, seq, "delete", None, None, None))
        } else rows += (("c", k, seq, "update", Some(k), None,
          Some(rnd.nextInt(3))))
      }
    }
    rows.toSeq.toDF("side", "pk", "seq", "kind", "ck", "st", "nat")
      .localCheckpoint()
  }

  /** Batch-recompute truth: full-history signed deltas, everything
    * accumulated (cut past the end). */
  private def recompute(ev: org.apache.spark.sql.DataFrame,
      maxSeq: Long): Set[(Int, String, Long)] = {
    val dOrd = CdcOps.signedAttrDeltas(
      ev.filter(col("side") === "o").select("pk", "seq", "kind", "ck", "st"),
      Seq("ck", "st"))
    val dCus = CdcOps.signedAttrDeltas(
      ev.filter(col("side") === "c").select("pk", "seq", "kind", "ck", "nat"),
      Seq("ck", "nat"))
    CdcOps.ivmJoinMaintain(dOrd, dCus, maxSeq + 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
  }

  private def viewSet(dir: String): Set[(Int, String, Long)] =
    IvmJoinStream.view(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  test("three-chunk replay equals the batch recompute — chunks split " +
      "per-pk chains on both sides, exercising every state table") {
    val dir = tempDir("graft-ivmjoin")
    val ev = history(23)
    val maxSeq = ev.agg(max(col("seq"))).head.getLong(0)
    val (c1, c2) = (maxSeq / 3, 2 * maxSeq / 3)
    IvmJoinStream.processBatch(ev.filter(col("seq") <= c1), 0, dir)
    IvmJoinStream.processBatch(
      ev.filter(col("seq") > c1 && col("seq") <= c2), 1, dir)
    IvmJoinStream.processBatch(ev.filter(col("seq") > c2), 2, dir)
    val want = recompute(ev, maxSeq)
    assert(want.nonEmpty, "degenerate fixture")
    assert(viewSet(dir) == want)
  }

  test("a re-delivered batch recomputes the same state (idempotent)") {
    val dir = tempDir("graft-ivmjoin-redeliver")
    val ev = history(31)
    val maxSeq = ev.agg(max(col("seq"))).head.getLong(0)
    val mid = maxSeq / 2
    IvmJoinStream.processBatch(ev.filter(col("seq") <= mid), 0, dir)
    IvmJoinStream.processBatch(ev.filter(col("seq") > mid), 1, dir)
    val once = viewSet(dir)
    // crash-replay of batch 1: reads version 0, lands the same bytes
    IvmJoinStream.processBatch(ev.filter(col("seq") > mid), 1, dir)
    assert(viewSet(dir) == once)
    assert(once == recompute(ev, maxSeq))
  }

  test("attaching mid-history (updates with unknown predecessor) fails " +
      "loudly instead of drifting the view") {
    val dir = tempDir("graft-ivmjoin-orphan")
    val ev = history(47)
    val e = intercept[IllegalArgumentException] {
      IvmJoinStream.processBatch(
        ev.filter(col("kind") =!= "insert"), 0, dir)
    }
    assert(e.getMessage.contains("unknown predecessor"))
  }
}
