package graft.cli

import graft.SparkSpec

/** The `-e --cdc <file>` view: a user's own jsoncdc capture decoded by
  * the real normalizer and queryable as temp view `cdc` — the ad-hoc
  * face of the cdc14-style trust checks. Pins the registration seam
  * (file → decoded view) end to end on a real LDJSON file. */
class CdcViewSpec extends SparkSpec {

  private lazy val capture: String = tmpCapture("view", Seq(
    """{"begin": 700}""",
    """{"schema": {"id": "integer"}, "table": "test_table"}""",
    """{"insert": {"id": 1, "first_name": "Ada"}, "table": "test_table"}""",
    """{"update": {"id": 1, "first_name": "Ada L"}, "table": "test_table"}""",
    """{"delete": true, "@": {"id": 1, "first_name": null}, "table": "test_table"}""",
    """{"insert": {"id": 9}, "table": "pg_temp_73"}""",
    """{"commit": 700, "t": "2024-01-01 00:00:01"}"""))

  test("registerCdcView decodes the capture through JsonCdc and drops " +
      "pg_temp noise; kinds, pk extraction and file order are " +
      "queryable as SQL") {
    Main.registerCdcView(spark, capture)
    val rows = spark.sql(
      "SELECT seq, kind, `table`, pk FROM cdc ORDER BY seq").collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("beginTransaction", "schema", "insert", "update", "delete",
        "commitTransaction"))
    // pg_temp_73 dropped by the same filter the stream path applies
    assert(!rows.exists(r => r.getString(2) == "pg_temp_73"))
    // pk = first key of the item (insert/update) / old image (delete)
    assert(rows.filter(r => Seq("insert", "update", "delete")
      .contains(r.getString(1))).forall(_.getString(3) == "1"))
    // seq is monotone in file order
    val seqs = rows.map(_.getLong(0)).toSeq
    assert(seqs == seqs.sorted)
  }

  test("adhocFrame composes the cdc view with the batch tables — one " +
      "SQL statement can join a capture against reference data") {
    val df = Main.adhocFrame(spark,
      "SELECT count(*) AS n FROM cdc WHERE kind = 'insert'",
      sfDir, cdcPath = Some(capture))
    assert(df.collect().head.getLong(0) == 1L)
  }

  private def tmpCapture(tag: String, lines: Seq[String]): String = {
    val p = tempFile(s"graft-cdc-$tag", ".ldjson")
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      lines.mkString("\n").getBytes("UTF-8"))
    p
  }

  test("--cdc-wire binlog: a MySQL binlog-JSON capture decodes through " +
      "BinlogCdc — tablemap pk carry, per-row expansion in statement " +
      "order, update pk from the after image") {
    val path = tmpCapture("binlog", Seq(
      """{"eventName":"tablemap","schemaName":"shop","tableName":"orders",
        |"columns":[{"name":"id","constraint":{"type":"PRIMARY KEY",
        |"name":"PRIMARY","position":1}},{"name":"total"}]}"""
        .stripMargin.replace("\n", ""),
      """{"eventName":"writerows","schemaName":"shop","tableName":"orders",
        |"rows":["{\"id\": 1, \"total\": 10}","{\"id\": 2, \"total\": 20}"]}"""
        .stripMargin.replace("\n", ""),
      """{"eventName":"updaterows","schemaName":"shop","tableName":"orders",
        |"rows":["{\"before\": {\"id\": 2, \"total\": 20},
        | \"after\": {\"id\": 2, \"total\": 25}}"]}"""
        .stripMargin.replace("\n", ""),
      """{"eventName":"deleterows","schemaName":"shop","tableName":"orders",
        |"rows":["{\"id\": 1, \"total\": 10}"]}"""
        .stripMargin.replace("\n", "")))
    Main.registerCdcView(spark, path, wire = "binlog")
    val rows = spark.sql(
      "SELECT kind, `table`, pk, item FROM cdc ORDER BY seq, row_idx")
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("insert", "insert", "update", "delete"))
    assert(rows.forall(_.getString(1) == "orders"))
    // pk via the carried tablemap PRIMARY column; update = after image
    assert(rows.map(_.getString(2)).toSeq == Seq("1", "2", "2", "1"))
    // delete carries no item (mirrors the reference envelope)
    assert(rows.last.isNullAt(3) && !rows.head.isNullAt(3))
  }

  test("--cdc-wire oplog: a Mongo oplog-JSON capture decodes through " +
      "OplogCdc — db/collection split, _id pk, non-DML entries " +
      "dropped, and a `table` alias so wire-generic trust-check SQL " +
      "ports") {
    val path = tmpCapture("oplog", Seq(
      """{"op":"i","ns":"app.users","o":"{\"_id\": \"u1\", \"n\": 1}"}""",
      """{"op":"u","ns":"app.users","o2":"{\"_id\": \"u1\"}",
        |"o":"{\"$set\": {\"n\": 2}}"}""".stripMargin.replace("\n", ""),
      """{"op":"n","ns":"","o":"{}"}""", // noop: dropped
      """{"op":"d","ns":"app.users","o":"{\"_id\": \"u1\"}"}"""))
    Main.registerCdcView(spark, path, wire = "oplog")
    val rows = spark.sql(
      "SELECT kind, db, collection, `table`, pk FROM cdc ORDER BY seq")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("insert", "update", "delete"))
    assert(rows.forall(r => r.getString(1) == "app" &&
      r.getString(2) == "users" && r.getString(3) == "users"))
    assert(rows.forall(_.getString(4) == "u1"))
  }

  test("an unknown wire is rejected loudly — a typo must not silently " +
      "decode a binlog capture as jsoncdc") {
    intercept[IllegalArgumentException] {
      Main.registerCdcView(spark, capture, wire = "debezium")
    }
  }
}
