package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The continuous-dedup index loop: exact dedup must work ACROSS
  * microbatches (the whole point of the persisted fingerprint index)
  * and near-dup candidates must surface against documents indexed in
  * earlier batches. */
class DedupStreamSpec extends SparkSpec {

  private val base = "the quick brown fox jumps over the lazy dog " +
    "again and again every single day without fail in the morning"

  test("exact dups drop across batches; near dups flag against the " +
      "band index; indexes grow by survivors only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("dedup_stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = DedupStream.start(
      mem.toDF().toDF("doc_id", "text"), dir)
    try {
      // batch 0: two distinct docs + an in-batch exact dup of doc 1
      mem.addData((1L, base), (2L, "completely different words " * 5),
        (3L, base))
      q.processAllAvailable()
      // batch 1: cross-batch exact dup of doc 1; a near-dup of doc 1
      // (one token edited); a fresh doc
      mem.addData((4L, base), (5L, base.replace("lazy", "sleepy")),
        (6L, "yet another unrelated document " * 4))
      q.processAllAvailable()
    } finally q.stop()
    def decided = DedupStream.decisions(spark, dir)
      .select("doc_id", "decision", "near_partner").as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    val once = decided
    assert(once.map(_._1) == (1L to 6L), s"one decision per doc: $once")
    val dec = once.map { case (id, d, p) => id -> ((d, p)) }.toMap
    assert(dec(1L)._1 == "kept" && dec(2L)._1 == "kept")
    assert(dec(3L)._1 == "exact_dup", "in-batch exact dup must drop")
    assert(dec(4L)._1 == "exact_dup",
      "CROSS-batch exact dup must drop via the fingerprint index")
    assert(dec(5L) == (("near_candidate", Some(1L))),
      s"one-token edit must band-collide with indexed doc 1, got ${dec(5L)}")
    assert(dec(6L)._1 == "kept")
    // index contents = survivors only (exact dups never indexed)
    def ids(table: String) = graft.sinks.VersionedState
      .readAll(spark, s"$dir/$table")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(ids("fp") == Set(1L, 2L, 5L, 6L))
    assert(ids("bands") == Set(1L, 2L, 5L, 6L))
    // re-delivery safety: foreachBatch re-delivers batch 1 under the
    // SAME id; it probes only the index below batch 1, so its survivors
    // never match their own fingerprints and nothing is decided twice
    DedupStream.processBatch(Seq((4L, base), (5L, base.replace("lazy",
      "sleepy")), (6L, "yet another unrelated document " * 4))
      .toDF("doc_id", "text"), 1L, dir)
    assert(decided == once)
    assert(ids("fp") == Set(1L, 2L, 5L, 6L))
  }
}
