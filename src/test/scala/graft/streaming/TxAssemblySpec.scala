package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Transaction assembly semantics mirrored from the reference's
  * multi-statement transaction test
  * (reference test/postgresql.test.js:365-434): a 3-statement tx
  * emits ONE transaction event whose items arrive in statement order
  * insert → update → delete with matching pks. The assembler is the one
  * the daemon runs, [[CdcPipeline]], fed by [[TxAssembly.decodeToEvents]].
  */
class TxAssemblySpec extends SparkSpec {
  import spark.implicits._

  private def lines(backend: String, rows: Seq[(Long, String)]) =
    rows.toDF("seq", "line").withColumn("backend", lit(backend))

  private val txFixture = Seq(
    (0L, """{"begin": 55}"""),
    (1L, """{"insert": {"id": 3, "v": "a"}, "table": "t"}"""),
    (2L, """{"update": {"id": 3, "v": "b"}, "table": "t"}"""),
    (3L, """{"delete": true, "@": {"id": 3}, "table": "t"}"""),
    (4L, """{"commit": 55, "t": "2016-04-29 15:31:16.129"}"""))

  /** Assembled transactions of a dispatched frame:
    * (backend, tx id, ts, items as (kind, pk) in emitted order). */
  private def transactions(dispatched: DataFrame)
      : Seq[(String, Long, String, Seq[(String, String)])] =
    dispatched.filter($"kind" === "transaction")
      .select($"backend", from_json($"item",
        "id BIGINT, ts STRING, items ARRAY<STRUCT<kind: STRING, pk: STRING>>",
        Map.empty[String, String]).as("tx"))
      .select($"backend", $"tx.id", $"tx.ts",
        transform($"tx.items", i => struct(i("kind"), i("pk"))))
      .as[(String, Long, String, Seq[(String, String)])]
      .collect().toSeq.sortBy(_._1)

  private def assemble(raw: DataFrame) =
    CdcPipeline.run(TxAssembly.decodeToEvents(raw), emitTransaction = true)

  test("batch: one tx event, items in statement order with pks") {
    val txs = transactions(assemble(lines("pg1", txFixture)))
    assert(txs.length == 1)
    val (_, txId, ts, items) = txs.head
    assert(txId == 55L)
    assert(ts != null)
    assert(items.map(_._1) == Seq("insert", "update", "delete"))
    assert(items.map(_._2).forall(_ == "3"))
  }

  test("commit id mismatch drops the transaction (reference asserts)") {
    val bad = Seq(
      (0L, """{"begin": 60}"""),
      (1L, """{"insert": {"id": 1}, "table": "t"}"""),
      (2L, """{"commit": 61, "t": "2016-04-29 15:31:16.129"}"""))
    assert(transactions(assemble(lines("pg1", bad))).isEmpty)
  }

  test("streaming: tx split across microbatches survives via state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val out = assemble(mem.toDF().toDF("backend", "seq", "line"))
    val name = s"txout_${System.nanoTime()}"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-tx-ckpt").toString
    val query = out.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      // batch 1: begin + first two statements — no emission yet
      mem.addData(txFixture.take(3).map { case (s, l) => ("pg1", s, l) }: _*)
      query.processAllAvailable()
      assert(transactions(spark.table(name)).isEmpty)
      // batch 2: delete + commit — tx completes
      mem.addData(txFixture.drop(3).map { case (s, l) => ("pg1", s, l) }: _*)
      query.processAllAvailable()
      val txs = transactions(spark.table(name))
      assert(txs.length == 1)
      assert(txs.head._4.map(_._1) == Seq("insert", "update", "delete"))
    } finally query.stop()
  }

  test("two backends assemble independently and in parallel") {
    val both = lines("pg1", txFixture).unionAll(
      lines("mysql1", txFixture.map { case (s, l) =>
        (s, l.replace("55", "77")) }))
    val txs = transactions(assemble(both))
    assert(txs.map(t => (t._1, t._2)) == Seq(("mysql1", 77L), ("pg1", 55L)))
  }
}
