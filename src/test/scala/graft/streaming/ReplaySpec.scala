package graft.streaming

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.cdc.JsonCdc
import graft.sinks.{IdempotentParquetSink, SinkRegistry, SnapshotSink}
import graft.subscribe.SinkConfig

/** Same-id replay over every versioned writer: foreachBatch is
  * at-least-once with a stable batch id, so each writer must give the
  * same committed output when a batch is delivered again under the same
  * id — once after its version committed, and once after the version
  * was torn (marker gone, a stray data file left behind). A batch below
  * the latest committed one only comes from a reset checkpoint, and
  * each writer must fail on it rather than skip it. */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  /** Deliver batches 0..2 into a fresh directory, then batch 2 again,
    * then tear batch 2 of each of `tables` (subdirectories; "" is the
    * directory itself) and deliver it once more; `output` must read the
    * same every time. Batch 0 delivered last, as after a checkpoint
    * reset, must fail and leave the output as it was. */
  private def replaySafe(tables: Seq[String])(deliver: (Long, String) => Unit)(
      output: String => Seq[String]): Unit = {
    val dir = tempDir("graft-replay")
    (0L to 2L).foreach(deliver(_, dir))
    val once = output(dir)
    assert(once.nonEmpty, "degenerate fixture")
    deliver(2L, dir)
    assert(output(dir) == once, "a committed batch delivered again")
    tables.foreach(t => tear(new File(new File(dir, t), "batch=2")))
    deliver(2L, dir)
    assert(output(dir) == once, "a torn batch delivered again")
    val e = intercept[IllegalArgumentException](deliver(0L, dir))
    assert(e.getMessage.contains("checkpoint reset"), e.getMessage)
    assert(output(dir) == once, "a batch below the latest version")
  }

  /** A crash before the commit marker: the marker is gone, and a copy of
    * one data file stands for rows no committed version produced. */
  private def tear(version: File): Unit = {
    assert(new File(version, "_COMMITTED").delete(), s"$version not committed")
    val part = Files.walk(version.toPath).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-"))
    part.foreach((p: Path) =>
      Files.copy(p, p.resolveSibling("part-torn-" + p.getFileName)))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def jsoncdc(lines: (Long, String)*): DataFrame =
    JsonCdc.decode(lines.toDF("seq", "line"))

  private val envelopes = Seq(
    jsoncdc(
      (0L, """{"insert": {"id": 1, "v": "a"}, "table": "users"}"""),
      (1L, """{"insert": {"id": 2, "v": "b"}, "table": "orders"}""")),
    jsoncdc(
      (2L, """{"update": {"id": 1, "v": "a2"}, "table": "users"}"""),
      (3L, """{"insert": {"id": 3, "v": "c"}, "table": "users"}""")),
    jsoncdc(
      (4L, """{"delete": true, "@": {"id": 2}, "table": "orders"}"""),
      (5L, """{"update": {"id": 3, "v": "c2"}, "table": "users"}""")))

  /** A sink of config `kind` landing at the test directory itself. */
  private def sinkCase(kind: String, options: Map[String, String],
      read: String => DataFrame): Unit =
    replaySafe(Seq("")) { (b, dir) =>
      SinkRegistry.create(SinkConfig(kind, options + ("path" -> dir)))
        .write(envelopes(b.toInt), b)
    }(dir => rows(read(dir)))

  test("the parquet landing through the parquet kind") {
    sinkCase("parquet", Map.empty, IdempotentParquetSink.committed(spark, _))
  }

  test("the parquet landing through the parquet kind with partitionBy") {
    sinkCase("parquet", Map("partitionBy" -> "table,kind"),
      IdempotentParquetSink.committed(spark, _))
  }

  test("the parquet landing through the parquet-exactly-once kind") {
    sinkCase("parquet-exactly-once", Map.empty,
      IdempotentParquetSink.committed(spark, _))
  }

  test("the snapshot sink") {
    sinkCase("snapshot", Map.empty, new SnapshotSink(_).current(spark))
  }

  test("the IVM count loop") {
    val batches = Seq(
      Seq((1L, 0L, "insert", "A"), (2L, 1L, "insert", "B")),
      Seq((1L, 2L, "update", "B"), (3L, 3L, "insert", "A")),
      Seq((2L, 4L, "delete", null), (3L, 5L, "update", "C"),
        (1L, 6L, "update", "A")))
    replaySafe(Seq("counts", "last")) { (b, dir) =>
      IvmStream.processBatch(
        batches(b.toInt).toDF("pk", "seq", "kind", "status"), b, dir)
    }(dir => rows(IvmStream.counts(spark, dir)))
  }

  test("the IVM join loop") {
    val batches: Seq[Seq[(String, Long, Long, String, Option[Long],
        Option[String], Option[Int])]] = Seq(
      Seq(("o", 1L, 0L, "insert", Some(1L), Some("S0"), None),
        ("c", 1L, 1L, "insert", Some(1L), None, Some(0))),
      Seq(("o", 2L, 2L, "insert", Some(1L), Some("S1"), None),
        ("c", 1L, 3L, "update", Some(1L), None, Some(1))),
      Seq(("o", 1L, 4L, "update", Some(1L), Some("S2"), None),
        ("o", 2L, 5L, "delete", None, None, None),
        ("c", 2L, 6L, "insert", Some(2L), None, Some(2)),
        ("o", 3L, 7L, "insert", Some(2L), Some("S0"), None)))
    replaySafe(Seq("view", "azset", "bzset", "alast", "blast")) { (b, dir) =>
      IvmJoinStream.processBatch(batches(b.toInt)
        .toDF("side", "pk", "seq", "kind", "ck", "st", "nat"), b, dir)
    }(dir => rows(IvmJoinStream.view(spark, dir)))
  }

  test("the SCD2 loop") {
    val batches = Seq(
      Seq((1L, 0L, "insert", 1L, "A"), (2L, 1L, "insert", 1L, "A")),
      Seq((1L, 2L, "update", 2L, "B")),
      Seq((2L, 3L, "delete", 2L, null), (1L, 4L, "update", 3L, "C")))
    replaySafe(Seq("scd2")) { (b, dir) =>
      Scd2Stream.processBatch(
        batches(b.toInt).toDF("pk", "seq", "kind", "rev", "status"), b, dir)
    }(dir => rows(Scd2Stream.table(spark, dir)))
  }

  test("the dedup loop") {
    val base = "the quick brown fox jumps over the lazy dog " +
      "again and again every single day without fail in the morning"
    val other = "yet another unrelated document " * 4
    val batches = Seq(
      Seq((1L, base), (2L, "completely different words " * 5), (3L, base)),
      Seq((4L, base), (5L, base.replace("lazy", "sleepy")), (6L, other)),
      Seq((7L, base.replace("morning", "evening")), (8L, other),
        (9L, "a wholly new text about nothing in particular " * 3)))
    replaySafe(Seq("decisions", "fp", "bands")) { (b, dir) =>
      DedupStream.processBatch(
        batches(b.toInt).toDF("doc_id", "text"), b, dir)
    }(dir => rows(DedupStream.decisions(spark, dir)
      .select("doc_id", "decision", "near_partner", "batch_id")))
  }
}
