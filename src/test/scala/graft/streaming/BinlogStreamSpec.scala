package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import graft.sinks.{SinkRegistry, SubjectRoutingSink}
import graft.subscribe.{BackendConfig, EmitFlags}

object BinlogStreamSpec {
  val bus = new ConcurrentLinkedQueue[(String, String)]()
}

/** The daemon's MySQL-binlog and Mongo-oplog backend kinds — reference
  * worker parity (lapidus.js:88-109; mysql.js:99-270; mongo.js:133-272).
  */
class BinlogStreamSpec extends SparkSpec {
  import spark.implicits._

  private val colsJson =
    """[{"name": "id", "constraint": {"type": "PRIMARY KEY", "name": "PRIMARY", "position": 1}}]"""

  test("tablemap pk column carries across microbatches (keyed state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val out = BinlogStream.envelopes(
      mem.toDF.toDF("backend", "seq", "line"), Nil)
    val name = s"blog_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      mem.addData(("my1", 0L,
        s"""{"eventName": "tablemap", "schemaName": "lapidus", "tableName": "orders", "columns": $colsJson}"""))
      q.processAllAvailable()
      // rows arrive in a LATER microbatch — the carry must be state-backed
      mem.addData(("my1", 1L,
        """{"eventName": "writerows", "schemaName": "lapidus", "tableName": "orders", "rows": [{"id": 7, "x": "a"}, {"id": 8, "x": "b"}]}"""),
        ("my1", 2L,
        """{"eventName": "deleterows", "schemaName": "lapidus", "tableName": "orders", "rows": [{"id": 7, "x": "a"}]}"""))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select("kind", "pk", "item").as[(String, String, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      Seq(("delete", "7"), ("insert", "7"), ("insert", "8")))
    assert(rows.collect { case ("delete", _, item) => item }.head == null,
      "delete envelopes carry no item (mysql.js:148-152)")
  }

  test("file-oplog-json backend routes the reference's ns.pk subjects") {
    BinlogStreamSpec.bus.clear()
    val dir = tempDir("graft-oplog")
    Seq(
      ("mongo1", 0L, """{"op": "i", "ns": "app.orders", "o": {"_id": 5, "status": "N"}}"""),
      ("mongo1", 1L, """{"op": "u", "ns": "app.orders", "o": {"$set": {"s": "P"}}, "o2": {"_id": 5}}"""),
      ("mongo1", 2L, """{"op": "d", "ns": "app.orders", "o": {"_id": 5}}"""))
      .toDF("backend", "seq", "line")
      .coalesce(1).write.mode("overwrite").json(s"$dir/in")
    val cfg = BackendConfig("mongo1", "file", "oplog",
      Map("path" -> s"$dir/in"), emit = EmitFlags(emitEvent = Some(false)))
    val sink = new SubjectRoutingSink(
      () => (s, p) => { BinlogStreamSpec.bus.add((s, p)); () },
      schemaName = "", cachePrefix = None)
    val q = SinkRegistry.attach(
        CdcStream.forBackend(spark, cfg), cfg.emit, Seq(sink))
      .option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val subjects = BinlogStreamSpec.bus.asScala.map(_._1).toSet
    assert(subjects == Set("app.orders.5"),
      s"expected the two-component ns.pk subject, got $subjects")
    assert(BinlogStreamSpec.bus.size == 3) // insert + update + delete
  }

  test("binlog and oplog wires ride the kafka-shaped line contract") {
    // CdcStream's kafka source selects records into (backend, seq, line);
    // this MemoryStream is byte-identical to that shape, proving the
    // MySQL/Mongo wire decoders are transport-agnostic — the reference's
    // one-worker-per-backend-of-any-type model (lapidus.js:88-109).
    implicit val sqlCtx = spark.sqlContext
    val binMem = MemoryStream[(String, Long, String)]
    val binOut = CdcStream.fromLines(
      binMem.toDF.toDF("backend", "seq", "line"),
      BackendConfig("my-kafka", source = "kafka", wire = "binlog"))
    val binName = s"kafkabin_${System.nanoTime()}"
    val q1 = binOut.writeStream.format("memory").queryName(binName)
      .outputMode("append").start()
    try {
      binMem.addData(
        ("my-kafka", 0L,
          s"""{"eventName": "tablemap", "schemaName": "lapidus", "tableName": "orders", "columns": $colsJson}"""),
        ("my-kafka", 1L,
          """{"eventName": "writerows", "schemaName": "lapidus", "tableName": "orders", "rows": [{"id": 9, "x": "k"}]}"""))
      q1.processAllAvailable()
    } finally q1.stop()
    val binRows = spark.table(binName)
      .select("kind", "pk").as[(String, String)].collect().toSeq
    assert(binRows == Seq(("insert", "9")),
      "binlog decode must work unchanged over the kafka line shape")

    val opMem = MemoryStream[(String, Long, String)]
    val opOut = CdcStream.fromLines(
      opMem.toDF.toDF("backend", "seq", "line"),
      BackendConfig("mo-kafka", source = "kafka", wire = "oplog"))
    val opName = s"kafkaop_${System.nanoTime()}"
    val q2 = opOut.writeStream.format("memory").queryName(opName)
      .outputMode("append").start()
    try {
      opMem.addData(("mo-kafka", 0L,
        """{"op": "i", "ns": "app.users", "o": {"_id": 3, "n": "z"}}"""))
      q2.processAllAvailable()
    } finally q2.stop()
    val opRows = spark.table(opName)
      .select("kind", "table", "pk").as[(String, String, String)]
      .collect().toSeq
    assert(opRows == Seq(("insert", "app.users", "3")),
      "oplog decode must work unchanged over the kafka line shape")
  }

  test("tablemap carry survives a checkpoint restart (ZongJi reconnect " +
      "re-delivery, mysql.js:280-284)") {
    // The reference survives a MySQL reconnect because ZongJi re-delivers
    // tablemap events; the Spark analogue is the keyed carry state living
    // in the checkpoint — a restarted query must stamp pk_col onto rows
    // whose tablemap arrived BEFORE the restart.
    val dir = tempDir("graft-binlog-restart")
    val cfg = BackendConfig("my1", "file", "binlog",
      Map("path" -> s"$dir/in"))
    def startQuery() = CdcStream.forBackend(spark, cfg)
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()

    // batch 1: tablemap only, then a hard stop (simulated crash)
    Seq(("my1", 0L,
      s"""{"eventName": "tablemap", "schemaName": "lapidus", "tableName": "orders", "columns": $colsJson}"""))
      .toDF("backend", "seq", "line")
      .coalesce(1).write.mode("append").json(s"$dir/in")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // batch 2: row events arrive only after the restart
    Seq(("my1", 1L,
      """{"eventName": "writerows", "schemaName": "lapidus", "tableName": "orders", "rows": [{"id": 41, "x": "a"}, {"id": 42, "x": "b"}]}"""))
      .toDF("backend", "seq", "line")
      .coalesce(1).write.mode("append").json(s"$dir/in")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val pks = spark.read.parquet(s"$dir/out")
      .select("kind", "pk").as[(String, String)].collect().toSeq.sorted
    assert(pks == Seq(("insert", "41"), ("insert", "42")),
      "rows decoded after restart must still get the pre-restart tablemap's pk")
  }

  test("-t validation accepts the new kinds and demands a path") {
    import graft.subscribe._
    val ok = EngineConfig(Seq(
      BackendConfig("m", "file", "binlog",
        Map("path" -> "/x", "checkpoint" -> "/ck/m")),
      BackendConfig("o", "file", "oplog",
        Map("path" -> "/y", "checkpoint" -> "/ck/o"))))
    assert(ConfigValidation.validate(ok).isEmpty)
    val bad = EngineConfig(Seq(BackendConfig("m", "file", "binlog",
      Map("checkpoint" -> "/ck/m"))))
    assert(ConfigValidation.validate(bad)
      .exists(_.contains("requires options.path")))
  }
}
