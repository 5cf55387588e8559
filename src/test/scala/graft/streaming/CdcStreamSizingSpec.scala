package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.SparkSpec
import graft.sinks.{IdempotentParquetSink, SinkRegistry}
import graft.subscribe.{BackendConfig, EmitFlags}

/** `CdcStream.forBackend` sizes a query's state partitions to its key:
  * one per query when the session leaves `spark.sql.shuffle.partitions`
  * unset, the explicit count otherwise, and the checkpoint's count on a
  * restart. The shared test session sets the count explicitly (4), so
  * only the child sessions below exercise the unset case. */
class CdcStreamSizingSpec extends SparkSpec {
  import spark.implicits._

  private val partitionsKey = "spark.sql.shuffle.partitions"

  private val colsJson =
    """[{"name": "id", "constraint": {"type": "PRIMARY KEY", "name": "PRIMARY", "position": 1}}]"""

  /** Three capture files, a transaction open across each boundary. */
  private val files: Seq[Seq[(Long, String)]] = Seq(
    Seq(
      (0L, """{"schema": {"id": "integer", "v": "1"}, "table": "t"}"""),
      (1L, """{"begin": 1}"""),
      (2L, """{"insert": {"id": 1, "x": "a"}, "table": "t"}"""),
      (3L, """{"insert": {"id": 2, "x": "b"}, "table": "t"}""")),
    Seq(
      (4L, """{"commit": 1, "t": "2024-01-01 00:00:00"}"""),
      (5L, """{"begin": 2}"""),
      (6L, """{"update": {"id": 1, "x": "c"}, "table": "t"}""")),
    Seq(
      (7L, """{"delete": true, "@": {"id": 2}, "table": "t"}"""),
      (8L, """{"commit": 2, "t": "2024-01-01 00:00:01"}"""),
      (9L, """{"begin": 3}"""),
      (10L, """{"insert": {"id": 3, "x": "d"}, "table": "t"}"""),
      (11L, """{"commit": 3, "t": "2024-01-01 00:00:02"}""")))

  private def publish(dir: String, lines: Seq[(Long, String)],
      backend: String = "pg1"): Unit =
    lines.map { case (s, l) => (backend, s, l) }
      .toDF("backend", "seq", "line")
      .coalesce(1).write.mode("append").json(s"$dir/in")

  private def jsoncdc(dir: String) = BackendConfig("pg1", "file", "jsoncdc",
    Map("path" -> s"$dir/in", "maxFilesPerTrigger" -> "1"),
    emit = EmitFlags(emitEvent = Some(false)))

  /** A session of the shared context with the count unset, as
    * `cli.Main -c` starts one. */
  private def unsetSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.unset(partitionsKey)
    assert(!s.conf.getAll.contains(partitionsKey))
    s
  }

  /** `forBackend` → `attach` → start, landing in an exactly-once sink. */
  private def start(s: SparkSession, cfg: BackendConfig, dir: String,
      out: String = "out"): StreamingQuery =
    SinkRegistry.attach(CdcStream.forBackend(s, cfg), cfg.emit,
        Seq(new IdempotentParquetSink(s"$dir/$out")))
      .option("checkpointLocation", s"$dir/ckpt-$out").start()

  /** Every state operator's store count over the run's triggers. */
  private def run(q: StreamingQuery): Set[Long] =
    try {
      q.processAllAvailable()
      q.recentProgress.flatMap(_.stateOperators)
        .map(_.numStateStoreInstances.toLong).toSet
    } finally q.stop()

  /** What a batch decode + dispatch of the backend's capture lines
    * emits. */
  private def reference(dir: String, cfg: BackendConfig) =
    CdcPipeline.run(TxAssembly.decodeToEvents(
        spark.read.schema(CdcStream.lineSchema).json(s"$dir/in")
          .filter($"backend" === cfg.name),
        cfg.excludeTables),
      cfg.emit.transaction)

  private def assertLandedOnce(dir: String, cfg: BackendConfig,
      out: String = "out"): Unit = {
    val landed = IdempotentParquetSink.committed(spark, s"$dir/$out")
    val ref = reference(dir, cfg).select(landed.columns.map(col).toIndexedSeq: _*)
    assert(landed.exceptAll(ref).isEmpty && ref.exceptAll(landed).isEmpty,
      "the stream must land what one batch decode + pipeline emits")
    val seqs = landed.filter($"kind" =!= "transaction")
      .select("seq").as[Long].collect().toSeq
    assert(seqs.sorted == files.flatten.map(_._1),
      "each event exactly once")
    assert(landed.filter($"kind" === "transaction").count() == 3)
  }

  test("an unset session runs a jsoncdc query on one state store and " +
      "lands what the batch pipeline emits") {
    val dir = tempDir("graft-size-pg")
    files.foreach(publish(dir, _))
    val cfg = jsoncdc(dir)
    val s = unsetSession()
    assert(run(start(s, cfg, dir)) == Set(1L))
    assert(s.conf.get(partitionsKey) == "1")
    assertLandedOnce(dir, cfg)
  }

  test("backends sharing one capture directory each read their own " +
      "lines: one key, one state store per query") {
    val dir = tempDir("graft-size-shared")
    // pg1's and pg2's capture interleaved in the same directory, the
    // same seqs and transaction ids on both
    files.foreach { f => publish(dir, f); publish(dir, f, backend = "pg2") }
    val s = unsetSession()
    val cfgs = Seq("pg1", "pg2").map(n => jsoncdc(dir).copy(name = n))
    val queries = cfgs.map(c => start(s, c, dir, out = c.name))
    assert(queries.map(run) == Seq(Set(1L), Set(1L)))
    cfgs.foreach { c =>
      assertLandedOnce(dir, c, out = c.name)
      val backends = IdempotentParquetSink.committed(spark, s"$dir/${c.name}")
        .select("backend").distinct().as[String].collect().toSeq
      assert(backends == Seq(c.name))
    }
  }

  test("an unset session runs a binlog query on one state store") {
    val dir = tempDir("graft-size-binlog")
    publish(dir, Seq(
      (0L, s"""{"eventName": "tablemap", "schemaName": "lapidus", "tableName": "orders", "columns": $colsJson}""")),
      backend = "my1")
    publish(dir, Seq(
      (1L, """{"eventName": "writerows", "schemaName": "lapidus", "tableName": "orders", "rows": [{"id": 7, "x": "a"}]}""")),
      backend = "my1")
    val cfg = BackendConfig("my1", "file", "binlog",
      Map("path" -> s"$dir/in", "maxFilesPerTrigger" -> "1"),
      emit = EmitFlags(emitEvent = Some(false)))
    assert(run(start(unsetSession(), cfg, dir)) == Set(1L))
    val pks = IdempotentParquetSink.committed(spark, s"$dir/out")
      .select("kind", "pk").as[(String, String)].collect().toSeq
    assert(pks == Seq(("insert", "7")))
  }

  test("an explicit count wins: the test session's 4 stays 4") {
    val dir = tempDir("graft-size-explicit")
    files.foreach(publish(dir, _))
    assert(spark.conf.getAll.get(partitionsKey).contains("4"))
    assert(run(start(spark, jsoncdc(dir), dir)) == Set(4L))
    assert(spark.conf.get(partitionsKey) == "4")
  }

  test("a restart over an existing checkpoint keeps the checkpoint's " +
      "count and lands each event exactly once") {
    val dir = tempDir("graft-size-restart")
    val cfg = jsoncdc(dir)
    files.take(2).foreach(publish(dir, _))
    val first = spark.newSession()
    first.conf.set(partitionsKey, "3")
    assert(run(start(first, cfg, dir)) == Set(3L))
    // the rest of the capture arrives while the daemon is down, a
    // transaction still open in its state
    publish(dir, files(2))
    val s = unsetSession()
    assert(run(start(s, cfg, dir)) == Set(3L),
      "Spark restores the count from the checkpoint's offset log")
    assertLandedOnce(dir, cfg)
  }
}
