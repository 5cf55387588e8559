package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.sinks.{CollectingSink, SinkRegistry}
import graft.subscribe.{BackendConfig, EmitFlags}

/** The combined stateful dispatch op (schema attach O13 + tx-id carry +
  * transaction assembly) and its wiring through the CLI pipeline —
  * semantics mirrored from the reference's lineHandler + dispatch
  * (postgresql.js:400-501).
  */
class CdcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val batch1 = Seq(
    (0L, """{"schema": {"id": "integer", "v": "1"}, "table": "t"}"""),
    (1L, """{"begin": 500}"""),
    (2L, """{"insert": {"id": 1, "x": "a"}, "table": "t"}"""))
  private val batch2 = Seq(
    (3L, """{"update": {"id": 1, "x": "b"}, "table": "t"}"""),
    (4L, """{"commit": 500, "t": "2024-01-01 00:00:00"}"""))

  test("pipeline stamps cached schema + tx id and assembles the " +
      "transaction across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val out = CdcPipeline.run(
      TxAssembly.decodeToEvents(mem.toDF.toDF("backend", "seq", "line")),
      emitTransaction = true)
    val name = s"pipe_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(batch1.map { case (s, l) => ("pg1", s, l) }: _*)
      q.processAllAvailable()
      mem.addData(batch2.map { case (s, l) => ("pg1", s, l) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).collect()
      .map(r => r.getAs[Long]("seq") -> r).toMap

    // schema cache: the insert (same batch) AND the update (next batch,
    // cache carried in keyed state) both carry schema v1
    assert(rows(2L).getAs[String]("schema").contains("\"v\""))
    assert(rows(3L).getAs[String]("schema").contains("\"v\""))
    // tx-id carry spans the microbatch boundary too
    assert(rows(2L).getAs[Long]("tx_id") == 500L)
    assert(rows(3L).getAs[Long]("tx_id") == 500L)

    // assembled transaction: emitted at the commit line's seq with the
    // reference's {items, id, ts} shape, items in stream order
    val tx = spark.table(name)
      .filter($"kind" === "transaction").collect()
    assert(tx.length == 1)
    val item = tx.head.getAs[String]("item")
    assert(tx.head.getAs[Long]("tx_id") == 500L)
    assert(item.contains("\"id\":500"))
    assert(item.contains("\"items\""))
    assert(item.indexOf("insert") < item.indexOf("update"))
  }

  test("uncommitted transactions are never emitted; stray commit is " +
      "dropped (commit id must match the open tx)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val out = CdcPipeline.run(
      TxAssembly.decodeToEvents(mem.toDF.toDF("backend", "seq", "line")),
      emitTransaction = true)
    val name = s"pipe_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(
        ("pg1", 0L, """{"begin": 7}"""),
        ("pg1", 1L, """{"insert": {"id": 1}, "table": "t"}"""),
        ("pg1", 2L, """{"commit": 99, "t": "2024-01-01 00:00:00"}"""))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(name).filter($"kind" === "transaction").isEmpty)
  }

  test("open transactions drop after the quiet period; schema cache " +
      "survives the timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val out = CdcPipeline.run(
      TxAssembly.decodeToEvents(mem.toDF.toDF("backend", "seq", "line")),
      emitTransaction = true, txTimeoutMs = Some(1L))
    val name = s"pipe_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // processAllAvailable never settles once a processing-time timeout is
    // armed (the engine keeps scheduling timeout-check batches) — poll
    // the sink's row count instead
    def waitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table(name).count() < n &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(spark.table(name).count() >= n, s"timed out waiting for $n rows")
    }
    try {
      mem.addData(
        ("pg1", 0L, """{"schema": {"id": "integer"}, "table": "t"}"""),
        ("pg1", 1L, """{"begin": 9}"""),
        ("pg1", 2L, """{"insert": {"id": 1}, "table": "t"}"""))
      waitRows(3)
      Thread.sleep(100) // exceed the 1 ms quiet period → timeout fires
      // the stale commit must find no open tx; the schema cache must live
      mem.addData(
        ("pg1", 3L, """{"commit": 9, "t": "2024-01-01 00:00:00"}"""),
        ("pg1", 4L, """{"insert": {"id": 2}, "table": "t"}"""))
      waitRows(5)
    } finally q.stop()
    val t = spark.table(name)
    assert(t.filter($"kind" === "transaction").isEmpty,
      "timed-out tx must not assemble")
    val lateInsert = t.filter($"backend" === "pg1" && $"seq" === 4L)
      .select("schema").as[String].head()
    assert(lateInsert != null && lateInsert.contains("integer"),
      "schema cache must survive the tx timeout")
  }

  test("file-ldjson backend with emitTransaction delivers assembled " +
      "transactions to the configured sinks") {
    val dir = tempDir("graft-cdc")
    (batch1 ++ batch2).map { case (s, l) => ("pg1", s, l) }
      .toDF("backend", "seq", "line")
      .coalesce(1).write.mode("overwrite").json(s"$dir/in")
    val cfg = BackendConfig("pg1", "file-ldjson",
      Map("path" -> s"$dir/in"),
      // default cascade: emitTransaction follows emitEvents=true; switch
      // the generic re-dispatch off so assertions see each kind once
      emit = EmitFlags(emitEvent = Some(false)))
    val sink = new CollectingSink
    val q = SinkRegistry.attach(
        CdcStream.forBackend(spark, cfg), cfg.emit, Seq(sink))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val byKind = sink.collected.groupBy(_.getAs[String]("kind"))
    assert(byKind.contains("transaction"), s"kinds: ${byKind.keySet}")
    val item = byKind("transaction").head.getAs[String]("item")
    assert(item.contains("\"id\":500") && item.contains("\"items\""))
    // per-kind events still flow alongside the assembled transaction
    assert(byKind.contains("insert") && byKind.contains("commitTransaction"))
  }

  test("generic event re-dispatch stamps type and includes transactions " +
      "(postgresql.js:515-547)") {
    val dir = tempDir("graft-cdc-ev")
    (batch1 ++ batch2).map { case (s, l) => ("pg1", s, l) }
      .toDF("backend", "seq", "line")
      .coalesce(1).write.mode("overwrite").json(s"$dir/in")
    val cfg = BackendConfig("pg1", "file-ldjson", Map("path" -> s"$dir/in"))
    val sink = new CollectingSink
    val q = SinkRegistry.attach(
        CdcStream.forBackend(spark, cfg), cfg.emit, Seq(sink))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val generic = sink.collected.filter(_.getAs[String]("kind") == "event")
    val types = generic.map(_.getAs[String]("type")).toSet
    assert(types.contains("insert") && types.contains("transaction"))
    // native rows carry a null type
    val native = sink.collected.filter(_.getAs[String]("kind") == "insert")
    assert(native.forall(_.isNullAt(native.head.fieldIndex("type"))))
  }

  test("kafka records shape into the line contract and feed the wire " +
      "decoders transport-blind (batch probe — no connector jar or " +
      "broker in this container, see README)") {
    import spark.implicits._
    // the exact columns the kafka source emits: topic / offset / binary value
    val recs = Seq(
      ("cdc.oplog", 5L,
        """{"op": "i", "ns": "app.orders", "o": {"_id": 7, "status": "O"}}"""
          .getBytes("UTF-8")),
      ("cdc.oplog", 6L,
        """{"op": "d", "ns": "app.orders", "o": {"_id": 7}}"""
          .getBytes("UTF-8")))
      .toDF("topic", "offset", "value")
    val lines = CdcStream.kafkaRecordsToLines(recs)
    assert(lines.columns.toSeq == Seq("backend", "seq", "line"),
      "shaped frame must match the capture-layer line contract")
    // same dispatch the streaming path uses — transport must be invisible
    val cfg = BackendConfig("m1", source = "kafka", wire = "oplog")
    val out = CdcStream.fromLines(lines, cfg)
      .select("backend", "seq", "kind", "table", "pk")
      .as[(String, Long, String, String, String)].collect().sortBy(_._2)
    assert(out.toSeq == Seq(
      ("cdc.oplog", 5L, "insert", "app.orders", "7"),
      ("cdc.oplog", 6L, "delete", "app.orders", "7")))
  }
}
