package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Harness, Tables}
import graft.cdc.{BinlogCdc, JsonCdc, OplogCdc}

/** CDC1/CDC2 — the reference's decode + routing pipeline as oracle-checked
  * batch queries (SURVEY.md §2.4).
  *
  * A deterministic jsoncdc replay stream is synthesized from `orders`
  * (3 lines per order: begin / one DML / commit; DML kind cycles by
  * orderkey; every 10th order targets a pg_temp_* table and every
  * 10th+8 an excluded table), then pushed through the REAL decoder
  * (graft.cdc.JsonCdc — get_json_object when-chain, pk rules, table
  * filters, tx carry). The oracle states the expected envelope directly,
  * so any decoder regression breaks the hash match.
  */
object CdcOps {

  /** Synthetic replays are written once as parquet capture files
    * through `Harness.fixture` and READ from disk afterwards — exactly
    * how a real replay consumes capture output (pg_recvlogical/Debezium
    * write files; the engine never re-synthesizes its input). The
    * decode queries therefore measure the DECODER, not string
    * formatting, and cdc1/cdc2 (likewise cdc5/cdc6) share one
    * generation.
    *
    * HARNESS-ONLY construct: the files are driver-local (see
    * `Harness.fixture`); a cluster deployment replays real capture
    * files from shared storage and never calls this. */
  private def capture(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    s.read.parquet(Harness.fixture(s, s"replay-$name", dir)(
      build.write.mode("overwrite").parquet(_)))

  /** 3 jsoncdc lines per order on a stride-4 seq grid (begin=4k, dml=4k+2,
    * commit=4k+3; lane 4k+1 is reserved), plus two out-of-band `schema`
    * lines for `orders` on the free lane: v1 at seq=1 (before everything)
    * and v2 at seq=4001 — so v2 governs every DML with orderkey >= 1000,
    * exercising the O13 supersession rule at any SF. */
  private[graft] def syntheticLines(s: SparkSession, dir: String): DataFrame =
      capture(s, dir, "jsoncdc") {
    import s.implicits._
    // Repartition the NARROW key frame before formatting: the three line
    // branches then derive narrowly from one reused exchange, instead of
    // shuffling 3× as many fully-formatted JSON strings afterwards. The
    // spread exists because the test parquet is a single file (one input
    // partition) — a real multi-partition source arrives pre-spread.
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // ALL THREE lines of an order are generated in ONE pass with a
    // row-local generator (stack) — a begin/dml/commit UNION of three
    // projections would be three distinct subtrees after column pruning
    // (ReuseExchange can never share them), i.e. three scans of the
    // source and 3x the read IO on a real replay
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
      .repartition(n)
      .withColumn("tbl",
        when(col("k") % 10 === 9, lit("pg_temp_refresh"))
          .when(col("k") % 10 === 8, lit("audit_log"))
          .otherwise(lit("orders")))
    val dmlLine =
      when(col("k") % 3 === 0, format_string(
        """{"insert": {"id": %d, "status": "%s"}, "table": "%s"}""",
        col("k"), col("st"), col("tbl")))
        .when(col("k") % 3 === 1, format_string(
          """{"update": {"id": %d, "status": "%s"}, "table": "%s"}""",
          col("k"), col("st"), col("tbl")))
        .otherwise(format_string(
          """{"delete": true, "@": {"note": null, "id": %d}, "table": "%s"}""",
          col("k"), col("tbl")))
    val lines = o.select(
        (col("k") * 4).as("s1"),
        format_string("""{"begin": %d}""", col("k")).as("l1"),
        (col("k") * 4 + 2).as("s2"), dmlLine.as("l2"),
        (col("k") * 4 + 3).as("s3"),
        format_string("""{"commit": %d, "t": "2024-01-01 00:00:00"}""",
          col("k")).as("l3"))
      .selectExpr("stack(3, s1, l1, s2, l2, s3, l3) AS (seq, line)")
    val schemaLines = Seq(
      (1L, """{"schema": {"id": "integer", "status": "varchar", "v": "1"}, "table": "orders"}"""),
      (4001L, """{"schema": {"id": "integer", "status": "varchar", "v": "2"}, "table": "orders"}"""))
      .toDF("seq", "line")
    lines.unionAll(schemaLines)
  }

  // -------------------------------------------------------------- CDC1
  /** Decode the replay stream into canonical envelopes: classification,
    * table/pg_temp/exclude filtering, pk extraction (incl. the
    * first-non-null-key delete rule), txId carry from begin lines, and the
    * O13 schema-cache attach — every DML envelope carries the latest
    * `schema` line seen for its table (postgresql.js:430-436). The attach
    * window runs over table-bearing rows only (schema + DML), so no
    * null-table rows funnel into one window partition. */
  def cdc1_decode(s: SparkSession, dir: String): DataFrame = {
    val decoded = JsonCdc.decode(syntheticLines(s, dir))
    // Each prefix carry forks the plan into a main branch + a
    // bucket-summary branch, and Catalyst's column pruning makes the two
    // subtrees non-identical, so ReuseExchange can never share them —
    // nested carries therefore re-synthesized + re-parsed the stream ~6x
    // (measured: 30 from_json nodes in the executed plan, 19s at sf0.1).
    // The fix is the one a 100 TB replay needs anyway: materialize the
    // decode ONCE (eager localCheckpoint — lineage-truncated blocks, no
    // lazy-cache race between AQE's concurrent branch stages) and fan
    // both carries out from the snapshot. 19s → ~5s at sf0.1.
    // prune BEFORE the snapshot: localCheckpoint materializes every
    // column it is handed (no pruning through a lineage cut), and the
    // raw line / item payload / old image / commit fields are dead past
    // this point — the narrow block is ~6x fewer bytes pinned in
    // executor memory (steady-state time is within noise either way;
    // the win is checkpoint footprint, which at replay scale is what
    // evicts other cached state)
    val filtered = JsonCdc.filterTables(decoded, Seq("audit_log"))
      .select("seq", "kind", "table", "pk", "begin_id", "schema_json")
      .localCheckpoint()
    // snapshot between the carries too: the schema-attach fork would
    // otherwise evaluate the tx-carry window + join twice
    val withTx = JsonCdc.withTxId(filtered, "seq")
      .filter(col("table").isNotNull).localCheckpoint()
    JsonCdc.withSchemaAttached(withTx, "seq")
      .filter(col("kind").isin("insert", "update", "delete"))
      .select(col("pk").cast("long").as("pk"), col("kind"), col("table"),
        col("tx_id"),
        get_json_object(col("schema"), "$.v").as("schema_v"))
      .orderBy("pk")
  }

  val cdc1Sql: String =
    """SELECT o_orderkey AS pk,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'insert'
      |       WHEN o_orderkey % 3 = 1 THEN 'update'
      |       ELSE 'delete' END AS kind,
      |  'orders' AS "table",
      |  o_orderkey AS tx_id,
      |  CASE WHEN o_orderkey >= 1000 THEN '2' ELSE '1' END AS schema_v
      |FROM orders
      |WHERE o_orderkey % 10 NOT IN (8, 9)
      |ORDER BY pk""".stripMargin

  // -------------------------------------------------------------- CDC2
  /** Routing: NATS-style subject schema.table.pk plus the cache-bus
    * subject {prefix}.{verb}.{subject} keyed by event kind. */
  def cdc2_routing(s: SparkSession, dir: String): DataFrame = {
    val decoded = JsonCdc.decode(syntheticLines(s, dir))
    val filtered = JsonCdc.filterTables(decoded, Seq("audit_log"))
      .filter(col("kind").isin("insert", "update", "delete"))
    val subj = JsonCdc.subject(lit("public"), col("table"), col("pk"))
    filtered
      .withColumn("subject", subj)
      .withColumn("cache_subject",
        JsonCdc.cacheSubject("cache", col("kind"), subj))
      .select(col("pk").cast("long").as("pk"), col("subject"),
        col("cache_subject"))
      // snapshot before the sort: range partitioning SAMPLES its child,
      // so an unmaterialized input pays the whole decode chain twice
      // (once for the sampler, once for the sort) — the same reason
      // cdc1 checkpoints between its carries
      .localCheckpoint()
      .orderBy("pk")
  }

  val cdc2Sql: String =
    """SELECT o_orderkey AS pk,
      |  'public.orders.' || o_orderkey AS subject,
      |  'cache.' || CASE WHEN o_orderkey % 3 = 0 THEN 'populate'
      |       WHEN o_orderkey % 3 = 1 THEN 'invalidate'
      |       ELSE 'purge' END || '.public.orders.' || o_orderkey
      |    AS cache_subject
      |FROM orders
      |WHERE o_orderkey % 10 NOT IN (8, 9)
      |ORDER BY pk""".stripMargin

  // -------------------------------------------------------------- CDC3
  /** A deterministic MySQL binlog replay synthesized from `orders`:
    * 2 leading tablemap events (PRIMARY KEY on id), then one multi-row
    * event per batch of 4 orders (kind cycles by batch; every 10th batch
    * targets an excluded table), decoded by the REAL normalizer
    * (graft.cdc.BinlogCdc — constraint pk, stateful tablemap carry, row
    * expansion, after-image updates, item-less deletes). */
  private[graft] def syntheticBinlog(s: SparkSession, dir: String): DataFrame =
      capture(s, dir, "binlog") {
    import s.implicits._
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
      .withColumn("bk", expr("k div 4"))
      .withColumn("tbl",
        when(pmod(col("bk"), lit(10)) === 7, lit("audit_log"))
          .otherwise(lit("orders")))
      .withColumn("ev",
        when(pmod(col("bk"), lit(3)) === 0, lit("writerows"))
          .when(pmod(col("bk"), lit(3)) === 1, lit("updaterows"))
          .otherwise(lit("deleterows")))
      .withColumn("row_json",
        when(col("ev") === "updaterows", format_string(
          """{"before": {"id": %d, "status": "XX"}, "after": {"id": %d, "status": "%s"}}""",
          col("k"), col("k"), col("st")))
          .otherwise(format_string(
            """{"id": %d, "status": "%s"}""", col("k"), col("st"))))
    val batches = o.groupBy("bk", "tbl", "ev")
      .agg(expr("array_join(transform(sort_array(collect_list(" +
        "struct(k, row_json))), x -> x.row_json), ',')").as("rows_str"))
      .select((col("bk") + 2).as("seq"), format_string(
        """{"eventName": "%s", "schemaName": "lapidus", "tableName": "%s", "rows": [%s]}""",
        col("ev"), col("tbl"), col("rows_str")).as("line"))
    val colsJson = """[{"name": "id", "constraint": {"type": "PRIMARY KEY", "name": "PRIMARY", "position": 1}}, {"name": "status", "constraint": {"type": "UNIQUE", "name": "uq_status", "position": 1}}]"""
    val tablemaps = Seq("orders", "audit_log").zipWithIndex.map {
      case (t, i) => (i.toLong,
        s"""{"eventName": "tablemap", "schemaName": "lapidus", "tableName": "$t", "columns": $colsJson}""")
    }.toDF("seq", "line")
    // The groupBy(bk) shuffle spreads the rows, but AQE then coalesces
    // by BYTE size — and a batched binlog line is bytes-cheap,
    // decode-expensive (each explodes into per-row JSON parses), so the
    // downstream decode collapsed to ~1 task. Explicit N pins the
    // decode's parallelism (same reasoning as DedupOps.docs).
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    tablemaps.unionAll(batches).repartition(n)
  }

  def cdc3_mysql(s: SparkSession, dir: String): DataFrame =
    BinlogCdc.decode(syntheticBinlog(s, dir),
        excludeTables = Seq("audit_log"))
      .select(col("pk").cast("long").as("pk"), col("kind"), col("table"),
        get_json_object(col("item"), "$.status").as("status"))
      // snapshot before the sort — the range sampler would re-run the
      // whole binlog decode (see cdc2)
      .localCheckpoint()
      .orderBy("pk")

  val cdc3Sql: String =
    """SELECT o_orderkey AS pk,
      |  CASE ((o_orderkey // 4) % 3) WHEN 0 THEN 'insert'
      |       WHEN 1 THEN 'update' ELSE 'delete' END AS kind,
      |  'orders' AS "table",
      |  CASE WHEN (o_orderkey // 4) % 3 = 2 THEN NULL
      |       ELSE o_orderstatus END AS status
      |FROM orders
      |WHERE (o_orderkey // 4) % 10 != 7
      |ORDER BY pk""".stripMargin

  // -------------------------------------------------------------- CDC4
  /** A deterministic Mongo oplog replay synthesized from `orders`:
    * op cycles i/u/d by orderkey; every 10th+8 key lands in a
    * dotted-name collection; updates carry the operation document in `o`
    * and the selector in `o2` — decoded by the REAL normalizer
    * (graft.cdc.OplogCdc: pk = o._id || o2._id, item = o2 || o for
    * updates per the reference, ns split on the first dot, ns.pk
    * subject). */
  private[graft] def syntheticOplog(s: SparkSession, dir: String): DataFrame =
      capture(s, dir, "oplog") {
    // narrow-row repartition before formatting (see syntheticLines)
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
      .repartition(n)
      .withColumn("ns",
        when(pmod(col("k"), lit(10)) === 8, lit("app.audit.v2"))
          .otherwise(lit("app.orders")))
    val line =
      when(pmod(col("k"), lit(3)) === 0, format_string(
        """{"op": "i", "ns": "%s", "o": {"_id": %d, "status": "%s"}}""",
        col("ns"), col("k"), col("st")))
        .when(pmod(col("k"), lit(3)) === 1, format_string(
          """{"op": "u", "ns": "%s", "o": {"$set": {"status": "%s"}}, "o2": {"_id": %d}}""",
          col("ns"), col("st"), col("k")))
        .otherwise(format_string(
          """{"op": "d", "ns": "%s", "o": {"_id": %d}}""",
          col("ns"), col("k")))
    o.select(col("k").as("seq"), line.as("line"))
  }

  def cdc4_mongo(s: SparkSession, dir: String): DataFrame =
    OplogCdc.decode(syntheticOplog(s, dir))
      .select(col("pk").cast("long").as("pk"), col("kind"), col("ns"),
        col("db"), col("collection"), col("subject"),
        get_json_object(col("item"), "$.status").as("item_status"),
        get_json_object(col("item"), "$._id").cast("long").as("item_id"))
      // snapshot before the sort — the range sampler would re-run the
      // whole oplog decode (see cdc2)
      .localCheckpoint()
      .orderBy("pk")

  val cdc4Sql: String =
    """SELECT o_orderkey AS pk,
      |  CASE (o_orderkey % 3) WHEN 0 THEN 'insert'
      |       WHEN 1 THEN 'update' ELSE 'delete' END AS kind,
      |  CASE WHEN o_orderkey % 10 = 8 THEN 'app.audit.v2'
      |       ELSE 'app.orders' END AS ns,
      |  'app' AS db,
      |  CASE WHEN o_orderkey % 10 = 8 THEN 'audit.v2'
      |       ELSE 'orders' END AS collection,
      |  CASE WHEN o_orderkey % 10 = 8 THEN 'app.audit.v2'
      |       ELSE 'app.orders' END || '.' || CAST(o_orderkey AS VARCHAR)
      |    AS subject,
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END AS item_status,
      |  CASE WHEN o_orderkey % 3 != 2 THEN o_orderkey END AS item_id
      |FROM orders
      |ORDER BY pk""".stripMargin

  // -------------------------------------------------------------- CDC5
  /** A multi-version jsoncdc history per key, for the two canonical CDC
    * CONSUMER operations (what a user does with the reference's event
    * stream once it lands): snapshot apply (cdc5) and SCD2 history
    * (cdc6). Per orderkey k: insert (rev 1, status NEW) at seq 3k;
    * update (rev 2, real status) at 3k+1 unless k%4==1 (some rows are
    * never updated); delete at 3k+2 when k%4==3 (some rows die). */
  private[graft] def syntheticHistory(s: SparkSession, dir: String): DataFrame =
      capture(s, dir, "history") {
    // narrow-row repartition before formatting, then ONE generator pass
    // for a key's whole history — see syntheticLines for why a 3-way
    // union would triple-scan the source. Conditional events (not every
    // key updates/dies) become null struct slots filtered out row-
    // locally before inline() explodes the survivors.
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
      .repartition(n)
    o.select(
        struct((col("k") * 3).as("seq"), format_string(
          """{"insert": {"id": %d, "status": "NEW", "rev": "1"}, "table": "orders"}""",
          col("k")).as("line")).as("e1"),
        when(pmod(col("k"), lit(4)) =!= 1,
          struct((col("k") * 3 + 1).as("seq"), format_string(
            """{"update": {"id": %d, "status": "%s", "rev": "2"}, "table": "orders"}""",
            col("k"), col("st")).as("line"))).as("e2"),
        when(pmod(col("k"), lit(4)) === 3,
          struct((col("k") * 3 + 2).as("seq"), format_string(
            """{"delete": true, "@": {"id": %d}, "table": "orders"}""",
            col("k")).as("line"))).as("e3"))
      .selectExpr(
        "inline(filter(array(e1, e2, e3), x -> x IS NOT NULL))")
  }

  /** Snapshot materialization: fold a change stream into the current
    * table state — latest event per pk wins, a latest delete removes the
    * row. This is ONE hash aggregate (`max_by(struct, seq)`) with
    * map-side partial combine: at 100 TB the plan shuffles one pre-
    * aggregated row per (partition, pk), never sorts, and has no
    * per-key window funnel — deliberately NOT `row_number() = 1`,
    * which would sort every partition. */
  def cdc5_apply(s: SparkSession, dir: String): DataFrame = {
    val decoded = JsonCdc.decode(syntheticHistory(s, dir))
      .filter(col("kind").isin("insert", "update", "delete"))
    decoded.groupBy(col("pk"))
      .agg(max_by(struct(col("kind"), col("item")), col("seq")).as("last"))
      .filter(col("last.kind") =!= "delete")
      .select(col("pk").cast("long").as("pk"),
        get_json_object(col("last.item"), "$.status").as("status"),
        get_json_object(col("last.item"), "$.rev").cast("long").as("rev"))
      .orderBy("pk")
  }

  val cdc5Sql: String =
    """SELECT o_orderkey AS pk,
      |  CASE WHEN o_orderkey % 4 = 1 THEN 'NEW'
      |       ELSE o_orderstatus END AS status,
      |  CAST(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 2 END AS BIGINT)
      |    AS rev
      |FROM orders
      |WHERE o_orderkey % 4 != 3
      |ORDER BY pk""".stripMargin

  // -------------------------------------------------------------- CDC6
  /** SCD Type-2 history build: every insert/update version gets
    * [valid_from, valid_to) seq bounds; the next event of ANY kind
    * (update or delete) closes the previous version; open versions are
    * current. One window keyed by pk — per-key row count is bounded by
    * the version count, so the partition-by-pk sort is skew-free at any
    * table size (unlike the global carries in JsonCdc, which need the
    * bucketed prefix scan). */
  def cdc6_scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val decoded = JsonCdc.decode(syntheticHistory(s, dir))
      .filter(col("kind").isin("insert", "update", "delete"))
    val w = Window.partitionBy(col("pk")).orderBy(col("seq"))
    decoded
      .withColumn("valid_to", lead(col("seq"), 1).over(w))
      .filter(col("kind") =!= "delete")
      .select(col("pk").cast("long").as("pk"),
        get_json_object(col("item"), "$.rev").cast("long").as("rev"),
        get_json_object(col("item"), "$.status").as("status"),
        col("seq").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast("int").as("is_current"))
      .orderBy("pk", "valid_from")
  }

  val cdc6Sql: String =
    """SELECT pk, rev, status, valid_from, valid_to, is_current FROM (
      |  SELECT o_orderkey AS pk, CAST(1 AS BIGINT) AS rev,
      |    'NEW' AS status, o_orderkey * 3 AS valid_from,
      |    CASE WHEN o_orderkey % 4 = 1 THEN NULL
      |         ELSE o_orderkey * 3 + 1 END AS valid_to,
      |    CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END AS is_current
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 2, o_orderstatus, o_orderkey * 3 + 1,
      |    CASE WHEN o_orderkey % 4 = 3 THEN o_orderkey * 3 + 2 END,
      |    CASE WHEN o_orderkey % 4 IN (0, 2) THEN 1 ELSE 0 END
      |  FROM orders WHERE o_orderkey % 4 != 1
      |) ORDER BY pk, valid_from""".stripMargin

  // -------------------------------------------------------------- CDC7
  /** Schema-evolution replay: per table (one per order priority, its
    * leading digit d deciding the version count — odd-d tables evolve
    * through 4 versions, even-d stop at 3), one out-of-band `schema`
    * line per version. The column sets exercise every drift kind the
    * diff must catch: v2 ADDS `amount`, v3 RETYPES `status`
    * varchar→text, v4 REMOVES `amount`. */
  private[graft] def schemaEvoLines(s: SparkSession, dir: String): DataFrame =
      capture(s, dir, "schemaevo") {
    val cols =
      when(col("v") === 1,
        lit(""""id": "integer", "status": "varchar""""))
        .when(col("v") === 2,
          lit(""""id": "integer", "status": "varchar", "amount": "numeric""""))
        .when(col("v") === 3,
          lit(""""id": "integer", "status": "text", "amount": "numeric""""))
        .otherwise(lit(""""id": "integer", "status": "text""""))
    Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("tbl")).distinct()
      .withColumn("d", expr("cast(substring(tbl, 1, 1) as int)"))
      .select(col("tbl"), explode(expr(
        "sequence(1, case when d % 2 = 0 then 3 else 4 end)")).as("v"))
      .select(col("v").as("seq"),
        format_string(
          """{"schema": {%s, "v": "%d"}, "table": "%s"}""",
          cols, col("v"), col("tbl")).as("line"))
  }

  /** DDL-drift report from the schema-event stream: consecutive schema
    * versions per table diffed into added / removed / retyped column
    * lists — the audit a CDC consumer runs before trusting a replay
    * (the reference only CACHES the latest schema per table; this also
    * explains what changed between cache generations). The real decoder
    * classifies the lines; the column maps diff with row-local set
    * algebra (array_except / filter over map keys) after one
    * lag(1) window per table.
    *
    * Scale: schema events are rarer than DML by ~10⁶× and the window
    * partitions by table with ≤|versions| rows each — bounded partitions,
    * one narrow shuffle of (table, seq, colmap) rows, nothing row-scale
    * anywhere. */
  def cdc7_schema_diff(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{MapType, StringType}
    val w = Window.partitionBy("table").orderBy("seq")
    val keysOf = (m: org.apache.spark.sql.Column) => map_keys(m)
    JsonCdc.decode(schemaEvoLines(s, dir))
      .filter(col("kind") === "schema")
      .select(col("table"), col("seq"),
        from_json(col("schema_json"), MapType(StringType, StringType))
          .as("m"))
      .withColumn("pm", lag(col("m"), 1).over(w))
      .filter(col("pm").isNotNull)
      .select(
        col("table"),
        element_at(col("pm"), "v").cast("int").as("v_from"),
        element_at(col("m"), "v").cast("int").as("v_to"),
        array_join(sort_array(array_except(
          keysOf(col("m")), keysOf(col("pm")))), ",").as("added"),
        array_join(sort_array(array_except(
          keysOf(col("pm")), keysOf(col("m")))), ",").as("removed"),
        array_join(sort_array(filter(keysOf(col("m")),
          k => k =!= lit("v") && array_contains(keysOf(col("pm")), k) &&
            element_at(col("m"), k) =!= element_at(col("pm"), k))), ",")
          .as("retyped"))
      .orderBy("table", "v_to")
  }

  /** Oracle restates the generation rules (the cdc1 pattern): which
    * transitions each table sees and what each one changes. */
  val cdc7Sql: String =
    """WITH p AS (SELECT DISTINCT o_orderpriority AS "table",
      |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS d
      |  FROM orders),
      |t AS (SELECT "table",
      |        unnest(range(2, CASE WHEN d % 2 = 0 THEN 4 ELSE 5 END)) AS v
      |      FROM p)
      |SELECT "table", CAST(v - 1 AS INT) AS v_from, CAST(v AS INT) AS v_to,
      |  CASE WHEN v = 2 THEN 'amount' ELSE '' END AS added,
      |  CASE WHEN v = 4 THEN 'amount' ELSE '' END AS removed,
      |  CASE WHEN v = 3 THEN 'status' ELSE '' END AS retyped
      |FROM t ORDER BY "table", v_to""".stripMargin

  // -------------------------------------------------------------- CDC8
  /** INCREMENTAL VIEW MAINTENANCE — a per-status row-count aggregate
    * maintained from change-stream DELTAS alone (the DBSP /
    * differential-dataflow algebra): insert → +1 its status, update →
    * −1 old +1 new, delete → −1 last status. The old status is not in
    * the delete's image (the fixture mirrors the reference wire format:
    * the old row carries only the pk), so each event's predecessor
    * state comes from ONE lag(1) window per pk — the same bounded
    * per-key partitions as cdc6. Summing the signed deltas yields
    * exactly the aggregate a full snapshot recompute (cdc5 + groupBy)
    * would — which is what the oracle states.
    *
    * Scale: this is why IVM exists at 100 TB — the maintained view
    * never rescans the base table; the delta stream is |changes| narrow
    * (status, ±1) rows collapsing map-side to |statuses| per partition.
    * The streaming twin is the same delta derivation in foreachBatch,
    * merged into the aggregate store per microbatch. */
  def cdc8_ivm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("pk").orderBy("seq")
    val ev = JsonCdc.decode(syntheticHistory(s, dir))
      .filter(col("kind").isin("insert", "update", "delete"))
      .select(col("pk"), col("seq"), col("kind"),
        get_json_object(col("item"), "$.status").as("status"))
      .withColumn("prev", lag(col("status"), 1).over(w))
      // in the complete batch stream, "a predecessor exists" is exactly
      // "this is not the pk's first event" — NOT prev.isNotNull, which
      // a predecessor with a genuinely NULL status would also fail
      .withColumn("has_prev", row_number().over(w) > 1)
    statusDeltas(ev)
      .groupBy("status")
      .agg(sum(col("delta")).as("n"))
      .filter(col("n") =!= 0)
      .orderBy("status")
  }

  /** Signed IVM delta derivation over (kind, status, prev, has_prev)
    * rows — ONE definition shared by the batch operator and the
    * streaming twin (graft.streaming.IvmStream), whose equivalence is
    * the contract: insert/update contribute +1 to their status,
    * update/delete −1 to the predecessor's. NULL is a legitimate
    * status group (an insert with no status key books +1 there, and
    * the −1 that cancels it on the way out must land there too) — so
    * "predecessor exists" travels as the EXPLICIT `has_prev` flag, not
    * as prev.isNotNull. Callers that cannot prove every update/delete
    * has has_prev = true must check for such orphans themselves
    * (IvmStream fails loudly on them — stream bootstrap). */
  private[graft] def statusDeltas(ev: DataFrame): DataFrame =
    ev.select(explode(array(
        when(col("kind").isin("insert", "update"),
          struct(col("status").as("status"), lit(1L).as("delta"))),
        when(col("kind").isin("update", "delete") && col("has_prev"),
          struct(col("prev").as("status"), lit(-1L).as("delta")))))
        .as("d"))
      .filter(col("d").isNotNull)
      .select(col("d.status").as("status"), col("d.delta").as("delta"))

  /** Oracle = the full recompute the deltas must equal (cdc5's
    * current-state rule, grouped). */
  val cdc8Sql: String =
    """WITH cur AS (
      |  SELECT CASE WHEN o_orderkey % 4 = 1 THEN 'NEW'
      |         ELSE o_orderstatus END AS status
      |  FROM orders WHERE o_orderkey % 4 != 3)
      |SELECT status, CAST(COUNT(*) AS BIGINT) AS n
      |FROM cur GROUP BY status
      |ORDER BY status""".stripMargin

  // -------------------------------------------------------------- CDC9
  /** Key-INTERLEAVED multi-version history: unlike [[syntheticHistory]]
    * (whole chains on consecutive seqs), real capture streams interleave
    * keys over time — all the rev-1 inserts land in epoch 1 (seq = k),
    * the rev-2 updates in epoch 2 (seq = EPOCH + k, skipping k%4==1),
    * the deletes in epoch 3 (seq = 2·EPOCH + k, only k%4==3). A seq cut
    * inside epoch 2 therefore slices MID-CHAIN for half the keys — the
    * straddle an incremental SCD2 merge must handle. EPOCH is a fixed
    * lane stride; the build asserts the key range fits it. */
  private val Epoch = 1L << 20
  private[graft] def interleavedHistory(s: SparkSession,
      dir: String): DataFrame = capture(s, dir, "history-interleaved") {
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"))
      .repartition(n)
    val mx = o.agg(max(col("k"))).head().getLong(0)
    require(mx < Epoch,
      s"interleavedHistory: max orderkey $mx overflows the seq lane " +
        s"stride $Epoch — widen Epoch for this scale")
    o.select(
        struct(col("k").as("seq"), format_string(
          """{"insert": {"id": %d, "status": "NEW", "rev": "1"}, "table": "orders"}""",
          col("k")).as("line")).as("e1"),
        when(pmod(col("k"), lit(4)) =!= 1,
          struct((col("k") + Epoch).as("seq"), format_string(
            """{"update": {"id": %d, "status": "%s", "rev": "2"}, "table": "orders"}""",
            col("k"), col("st")).as("line"))).as("e2"),
        when(pmod(col("k"), lit(4)) === 3,
          struct((col("k") + 2 * Epoch).as("seq"), format_string(
            """{"delete": true, "@": {"id": %d}, "table": "orders"}""",
            col("k")).as("line"))).as("e3"))
      .selectExpr(
        "inline(filter(array(e1, e2, e3), x -> x IS NOT NULL))")
  }

  /** INCREMENTAL SCD2 maintenance: merge a change batch into an existing
    * SCD2 table (cdc6's shape) without rebuilding history. The existing
    * table splits three ways on the batch's key set:
    *   - untouched keys (anti join) pass through byte-identical — at
    *     100 TB these are never read or written (pk partition pruning);
    *     the merge's cost is ∝ |batch| + |open versions of touched keys|;
    *   - CLOSED versions of touched keys are immutable history — a later
    *     event can't re-open them — so they also pass through;
    *   - OPEN versions of touched keys re-enter the chain builder as
    *     pseudo-insert events alongside the batch, and ONE bounded
    *     per-key lead(seq) window (cdc6's) closes/extends them.
    * The batch's key set rides a broadcast (a CDC batch is minutes of
    * changes — always the small side against the dimension).
    *
    * The oracle is the FULL rebuild over the complete history: the hash
    * match is the proof that merge(existing, batch) ≡ rebuild(all) —
    * the invariant every warehouse MERGE INTO must keep. The cut falls
    * mid-epoch-2 (see [[interleavedHistory]]): half the updates and all
    * deletes arrive as the batch, so chains straddle the cut. */
  /** cdc6's version-chain builder over normalized
    * (pk, seq, kind, rev, status) events — ONE bounded per-key lead
    * window; shared by the full rebuild and the incremental merge. */
  private[graft] def scd2Chains(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pk")).orderBy(col("seq"))
    events.withColumn("valid_to", lead(col("seq"), 1).over(w))
      .filter(col("kind") =!= "delete")
      .select(col("pk"), col("rev"), col("status"),
        col("seq").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast("int").as("is_current"))
  }

  /** The incremental merge itself: existing is an SCD2 table in
    * [[scd2Chains]]'s shape, batch is normalized events all strictly
    * later than every existing valid_from. Returns the merged table,
    * ≡ scd2Chains(all events). */
  private[graft] def scd2Merge(existing: DataFrame,
      batch: DataFrame): DataFrame = {
    val touched = batch.select("pk").distinct()
    val untouched = existing
      .join(broadcast(touched), Seq("pk"), "left_anti")
    val affected = existing
      .join(broadcast(touched), Seq("pk"), "left_semi")
      .localCheckpoint() // closed + open branches below
    val closed = affected.filter(col("is_current") === 0)
    val reopened = affected.filter(col("is_current") === 1)
      .select(col("pk"), col("valid_from").as("seq"),
        lit("insert").as("kind"), col("rev"), col("status"))
    val rebuilt = scd2Chains(reopened.unionByName(
      batch.select("pk", "seq", "kind", "rev", "status")))
    untouched.unionByName(closed).unionByName(rebuilt)
  }

  def cdc9_scd2_merge(s: SparkSession, dir: String): DataFrame = {
    // snapshot the DECODE once: the existing-table and batch branches
    // both derive from it by a narrow seq filter, and without the
    // checkpoint each would re-parse the whole replay (cdc1's lesson)
    val ev = JsonCdc.decode(interleavedHistory(s, dir))
      .filter(col("kind").isin("insert", "update", "delete"))
      .select(col("pk").cast("long").as("pk"), col("seq"), col("kind"),
        get_json_object(col("item"), "$.rev").cast("long").as("rev"),
        get_json_object(col("item"), "$.status").as("status"))
      .localCheckpoint()
    val cut = Epoch + Epoch / 2 // the checkpoint seq the table was built to
    // the stored table feeds two merge branches (anti + semi), so it
    // snapshots too; the batch is a cheap filter over the snapshot
    val existing = scd2Chains(ev.filter(col("seq") < cut)).localCheckpoint()
    val batch = ev.filter(col("seq") >= cut)
    scd2Merge(existing, batch).orderBy("pk", "valid_from")
  }

  /** Oracle: the full SCD2 rebuild the incremental merge must equal,
    * stated closed-form from the [[interleavedHistory]] construction
    * (EPOCH = 1048576): rev 1 'NEW' from seq k, closed at EPOCH+k by the
    * rev-2 update unless k%4==1 (never updated → still current); rev 2
    * from EPOCH+k, closed at 2·EPOCH+k by the delete when k%4==3. */
  val cdc9Sql: String =
    """SELECT pk, rev, status, valid_from, valid_to, is_current FROM (
      |  SELECT o_orderkey AS pk, CAST(1 AS BIGINT) AS rev,
      |    'NEW' AS status, o_orderkey AS valid_from,
      |    CASE WHEN o_orderkey % 4 = 1 THEN NULL
      |         ELSE o_orderkey + 1048576 END AS valid_to,
      |    CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END AS is_current
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 2, o_orderstatus, o_orderkey + 1048576,
      |    CASE WHEN o_orderkey % 4 = 3 THEN o_orderkey + 2097152 END,
      |    CASE WHEN o_orderkey % 4 IN (0, 2) THEN 1 ELSE 0 END
      |  FROM orders WHERE o_orderkey % 4 != 1
      |) ORDER BY pk, valid_from""".stripMargin

  // ------------------------------------------------------------- CDC10
  /** IVM OF A JOIN VIEW WITH BOTH SIDES CHANGING — cdc8 maintains a
    * single-table aggregate; real views join. The bilinear delta rule
    * (DBSP / differential dataflow; Green et al.'s Z-set algebra):
    *
    *   Δ(A ⋈ B) = ΔA ⋈ B₀  ∪  A₀ ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * with signed multiplicities multiplying through the join. The view
    * here is `count of current (order, customer) pairs per (nation,
    * status)`: orders change status and get deleted, customers change
    * nation and get deleted, and the batch (everything past a seq cut
    * that falls mid-chain for half the keys) applies WITHOUT rescanning
    * A ⋈ B — the three delta terms each key on custkey, and the two
    * batch sides ride broadcasts (a CDC batch is minutes of changes —
    * always small against the accumulated state). The maintained
    * aggregate is |nations × statuses| rows; maintenance cost is
    * ∝ |batch| · avg-matches, which is the entire point of IVM at
    * 100 TB. Oracle = the full recompute over final states; the green
    * hash IS the maintain ≡ recompute proof (cdc9's contract shape).
    *
    * Events are synthesized as ALREADY-NORMALIZED envelopes (pk, seq,
    * kind, attrs): wire decoding is cdc1–cdc4's proven ground, and
    * skipping it here keeps the fixture focused on the algebra. */
  private[graft] def signedAttrDeltas(ev: DataFrame,
      attrs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("pk").orderBy("seq")
    val withPrev = attrs.foldLeft(ev)((d, a) =>
      d.withColumn(s"prev_$a", lag(col(a), 1).over(w)))
    val plus = struct(attrs.map(col) :+ lit(1L).as("m"): _*)
    val minus = struct(
      attrs.map(a => col(s"prev_$a").as(a)) :+ lit(-1L).as("m"): _*)
    withPrev.select(col("seq"), explode(array(
        when(col("kind").isin("insert", "update"), plus),
        when(col("kind").isin("update", "delete"), minus))).as("d"))
      .filter(col("d").isNotNull)
      .select(col("seq") +: attrs.map(a => col(s"d.$a")) :+ col("d.m"): _*)
  }

  /** The orders-side change stream shared by cdc10/cdc11: insert 'NEW'
    * → (k%4!=1) status update → (k%4==3) delete, on cdc9's epoch
    * lanes. Normalized (pk, seq, kind, ck, st) rows. */
  private[graft] def orderEvents(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("ck0"),
        col("o_orderstatus").as("st0"))
    require(o.agg(max("k")).head().getLong(0) < Epoch,
      "orderEvents: key range overflows the seq lane stride — widen Epoch")
    o.select(col("k").as("pk"),
        struct(col("k").as("seq"), lit("insert").as("kind"),
          col("ck0").as("ck"), lit("NEW").as("st")).as("e1"),
        when(pmod(col("k"), lit(4)) =!= 1,
          struct((col("k") + Epoch).as("seq"), lit("update").as("kind"),
            col("ck0").as("ck"), col("st0").as("st"))).as("e2"),
        when(pmod(col("k"), lit(4)) === 3,
          struct((col("k") + 2 * Epoch).as("seq"), lit("delete").as("kind"),
            lit(null).cast("bigint").as("ck"),
            lit(null).cast("string").as("st"))).as("e3"))
      .selectExpr("pk", "inline(filter(array(e1, e2, e3), x -> x IS NOT NULL))")
  }

  def cdc10_ivm_join(s: SparkSession, dir: String): DataFrame = {
    val cut = Epoch + Epoch / 2
    val c = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_nationkey").as("nat0"))
    require(c.agg(max("k")).head().getLong(0) < Epoch,
      "cdc10: key range overflows the seq lane stride — widen Epoch")
    val oEv = orderEvents(s, dir)
    // customers: insert → (k%3==0) nation move → (k%5==0) delete
    val cEv = c.select(col("k").as("pk"),
        struct(col("k").as("seq"), lit("insert").as("kind"),
          col("k").as("ck"), col("nat0").as("nat")).as("e1"),
        when(pmod(col("k"), lit(3)) === 0,
          struct((col("k") + Epoch).as("seq"), lit("update").as("kind"),
            col("k").as("ck"),
            pmod(col("nat0") + 7, lit(25)).as("nat"))).as("e2"),
        when(pmod(col("k"), lit(5)) === 0,
          struct((col("k") + 2 * Epoch).as("seq"), lit("delete").as("kind"),
            lit(null).cast("bigint").as("ck"),
            lit(null).cast("int").as("nat"))).as("e3"))
      .selectExpr("pk", "inline(filter(array(e1, e2, e3), x -> x IS NOT NULL))")
    val dOrd = signedAttrDeltas(oEv, Seq("ck", "st")).localCheckpoint()
    val dCus = signedAttrDeltas(cEv, Seq("ck", "nat")).localCheckpoint()
    ivmJoinMaintain(dOrd, dCus, cut)
      .select(col("nat").as("nation"), col("st").as("status"), col("n"))
      .orderBy("nation", "status")
  }

  /** The bilinear maintenance itself, over (seq, ck, st, m) orders
    * deltas and (seq, ck, nat, m) customer deltas: state accumulates to
    * `cut`, everything at/after it applies as the batch. Exposed so the
    * spec can prove cut-INDEPENDENCE (any split yields the recompute)
    * — the fixture oracle only witnesses one cut. Unordered. */
  private[graft] def ivmJoinMaintain(dOrd: DataFrame, dCus: DataFrame,
      cut: Long): DataFrame = {
    // pre-cut Z-set states and the batch deltas, each collapsed to net
    // multiplicities (narrow attr, m rows). ONE grouped pass per side:
    // grouping on (attrs, seq < cut) and filtering the flag afterwards
    // is row-for-row the two separate pre/post aggregations — the
    // previous shape scanned each delta checkpoint twice and paid two
    // exchanges per side for sums the finer grouping already separates
    // (guide §1.2: one pass, fan out from the snapshot)
    def net(d: DataFrame, attrs: Seq[String], mc: String) =
      d.groupBy(attrs.map(col) :+ (col("seq") < cut).as("pre"): _*)
        .agg(sum("m").as(mc))
        .filter(col(mc) =!= 0)
        .localCheckpoint()
    val ordNet = net(dOrd, Seq("ck", "st"), "ma")
    val cusNet = net(dCus, Seq("ck", "nat"), "mb")
    val aPre = ordNet.filter(col("pre")).drop("pre")
    val bPre = cusNet.filter(col("pre")).drop("pre")
    val dA = ordNet.filter(!col("pre")).drop("pre")
    val dB = cusNet.filter(!col("pre")).drop("pre")
    // the maintained view state as of the cut (at scale: the stored MV)
    val vPre = aPre.join(bPre, "ck")
      .groupBy("nat", "st").agg(sum(col("ma") * col("mb")).as("m"))
      .localCheckpoint()
    // the three bilinear delta terms; batch sides broadcast
    val pair = (col("ma") * col("mb")).as("m")
    val t1 = broadcast(dA).join(bPre, "ck").select(col("nat"), col("st"), pair)
    val t2 = aPre.join(broadcast(dB), "ck").select(col("nat"), col("st"), pair)
    val t3 = broadcast(dA).join(dB, "ck").select(col("nat"), col("st"), pair)
    vPre.unionByName(t1).unionByName(t2).unionByName(t3)
      .groupBy("nat", "st").agg(sum("m").as("n"))
      .filter(col("n") =!= 0)
  }

  /** Oracle: the full recompute from final states, closed-form from the
    * event construction — orders current unless k%4==3, status 'NEW'
    * when never updated (k%4==1); customers current unless k%5==0,
    * nation moved by +7 mod 25 when k%3==0. */
  val cdc10Sql: String =
    """WITH ocur AS (
      |  SELECT o_custkey AS ck,
      |    CASE WHEN o_orderkey % 4 = 1 THEN 'NEW'
      |         ELSE o_orderstatus END AS status
      |  FROM orders WHERE o_orderkey % 4 != 3),
      |ccur AS (
      |  SELECT c_custkey AS ck,
      |    CASE WHEN c_custkey % 3 = 0 THEN (c_nationkey + 7) % 25
      |         ELSE c_nationkey END AS nation
      |  FROM customer WHERE c_custkey % 5 != 0)
      |SELECT nation, status, CAST(COUNT(*) AS BIGINT) AS n
      |FROM ocur JOIN ccur USING (ck)
      |GROUP BY nation, status ORDER BY nation, status""".stripMargin

  // ------------------------------------------------------------- CDC11
  /** IVM OF A DISTINCT-COUNT VIEW — the NON-LINEAR case cdc8/cdc10's
    * signed sums cannot express: `COUNT(DISTINCT custkey) per status`
    * of current orders. Distinct counts don't add (a +1 on a customer
    * already present changes nothing), so the view maintains through a
    * SUPPORT Z-set: multiplicities per (status, custkey); the distinct
    * count is the number of pairs with net support > 0, and a batch
    * changes the view only where support crosses zero:
    *
    *   Δview(status) = Σ_pairs [after > 0] − [before > 0]
    *
    * Scale: the stored Z-set is |live (status, custkey)| narrow rows —
    * the state any exact distinct-IVM must carry (sketch columns, q04c,
    * are the lossy alternative); the batch touches only its own pairs
    * (broadcast into the zero-crossing join), and the view merge is
    * |statuses| rows. The accumulated order set never rescans. Oracle =
    * full recompute from the final state; cut-independence pinned by
    * the cdc11 property spec (support rising from 0, falling to 0, and
    * staying positive all cross correctly). */
  private[graft] def ivmDistinctMaintain(deltas: DataFrame,
      cut: Long): DataFrame = {
    // one grouped pass for both the pre-cut support state and the batch
    // delta (the cdc10 shape): group on (st, ck, seq < cut), filter the
    // flag afterwards — row-identical to the two separate aggregations,
    // one delta scan + one exchange instead of two of each
    val zBoth = deltas
      .groupBy(col("st"), col("ck"), (col("seq") < cut).as("pre"))
      .agg(sum("m").as("m")).filter(col("m") =!= 0)
      .localCheckpoint() // view + crossing join + batch all read it
    val zPre = zBoth.filter(col("pre")).drop("pre")
    val dZ = zBoth.filter(!col("pre")).drop("pre")
    // the stored view as of the cut
    val vPre = zPre.filter(col("m") > 0)
      .groupBy("st").agg(count(lit(1)).as("n"))
    // zero crossings: only the batch's own (status, custkey) pairs
    val crossings = broadcast(dZ.withColumnRenamed("m", "dm"))
      .join(zPre, Seq("st", "ck"), "left")
      .select(col("st"),
        ((coalesce(col("m"), lit(0L)) + col("dm") > 0).cast("long")
          - (coalesce(col("m"), lit(0L)) > 0).cast("long")).as("n"))
    vPre.unionByName(crossings)
      .groupBy("st").agg(sum("n").as("n"))
      .filter(col("n") > 0)
      .select(col("st").as("status"), col("n"))
      .orderBy("status")
  }

  def cdc11_ivm_distinct(s: SparkSession, dir: String): DataFrame = {
    val deltas = signedAttrDeltas(orderEvents(s, dir), Seq("ck", "st"))
      .localCheckpoint()
    ivmDistinctMaintain(deltas, Epoch + Epoch / 2)
  }

  /** Oracle: distinct current customers per status, closed-form from
    * [[orderEvents]]'s construction. */
  val cdc11Sql: String =
    """WITH cur AS (
      |  SELECT o_custkey AS ck,
      |    CASE WHEN o_orderkey % 4 = 1 THEN 'NEW'
      |         ELSE o_orderstatus END AS status
      |  FROM orders WHERE o_orderkey % 4 != 3)
      |SELECT status, CAST(COUNT(DISTINCT ck) AS BIGINT) AS n
      |FROM cur GROUP BY status ORDER BY status""".stripMargin

  // ------------------------------------------------------------- CDC12
  /** CORRUPT-LINE QUARANTINE — the PERMISSIVE-mode contract a 100 TB
    * replay needs: a malformed capture line (truncated write, encoding
    * damage, a foreign log line) must never abort the stream OR vanish
    * silently; it surfaces as a counted quarantine channel while every
    * well-formed line decodes normally. `from_json` already returns a
    * null parse for garbage — the quarantine is the decoder's own
    * `unknown` kind (no recognized top-level key) from the same
    * single-parse decode (no second validation pass, no exception
    * path). Output: envelope counts per table, tx-control
    * lines under `__txctl__`, quarantined lines under `__corrupt__` —
    * the audit a consumer alerts on. Fixture plants a deterministic
    * non-JSON line for every 13th order on a reserved seq range. */
  def cdc12_quarantine(s: SparkSession, dir: String): DataFrame = {
    val corrupt = Tables.load(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select((col("o_orderkey") + 10000000L).as("seq"),
        format_string("corrupt line #%d not json", col("o_orderkey"))
          .as("line"))
    val all = syntheticLines(s, dir).unionByName(corrupt)
    JsonCdc.decode(all)
      .select(when(col("kind") === "unknown", lit("__corrupt__"))
        .otherwise(coalesce(col("table"), lit("__txctl__"))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** Oracle: bucket counts closed-form from [[syntheticLines]]'s
    * construction (3 lines/order + 2 schema lines) + the planted
    * corruption. */
  val cdc12Sql: String =
    """WITH b AS (
      |  SELECT '__txctl__' AS bucket,
      |    2 * (SELECT count(*) FROM orders) AS n
      |  UNION ALL SELECT 'orders',
      |    (SELECT count(*) FROM orders
      |     WHERE o_orderkey % 10 NOT IN (8, 9)) + 2
      |  UNION ALL SELECT 'pg_temp_refresh',
      |    (SELECT count(*) FROM orders WHERE o_orderkey % 10 = 9)
      |  UNION ALL SELECT 'audit_log',
      |    (SELECT count(*) FROM orders WHERE o_orderkey % 10 = 8)
      |  UNION ALL SELECT '__corrupt__',
      |    (SELECT count(*) FROM orders WHERE o_orderkey % 13 = 0))
      |SELECT bucket, CAST(n AS BIGINT) AS n FROM b
      |WHERE n > 0 ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------- CDC13
  /** VERSION DIFF — `table_changes(v1, v2)` over the replayed history:
    * which rows were added / removed / modified between two as-of
    * points, the question every warehouse's versioned tables answer
    * (downstream incremental consumers, audits, debugging "what changed
    * overnight"). Two cdc5-shaped snapshots (ONE shared decode,
    * max_by hash agg each — never a sort) full-outer join on pk and
    * classify; unchanged rows drop out, so the result is change-scale.
    * Cuts fall MID-CHAIN (3·n+1 — a key's insert has played but not
    * its update/delete), so all three change kinds occur. Oracle =
    * closed-form states from [[syntheticHistory]]'s construction. */
  def cdc13_version_diff(s: SparkSession, dir: String): DataFrame = {
    val mx = Tables.load(s, dir, "orders")
      .agg(max("o_orderkey")).head().getLong(0)
    val (n1, n2) = (mx / 3, 2 * (mx / 3))
    val ev = JsonCdc.decode(syntheticHistory(s, dir))
      .filter(col("kind").isin("insert", "update", "delete"))
      .select(col("pk").cast("long").as("pk"), col("seq"), col("kind"),
        get_json_object(col("item"), "$.status").as("status"))
      .localCheckpoint() // both as-of states read one decode
    def stateAt(cut: Long) = ev.filter(col("seq") < cut)
      .groupBy("pk")
      .agg(max_by(struct(col("kind"), col("status")), col("seq")).as("l"))
      .filter(col("l.kind") =!= "delete")
      .select(col("pk"), col("l.status").as("status"))
    val s1 = stateAt(3 * n1 + 1)
      .select(col("pk").as("pk1"), col("status").as("old_status"))
    val s2 = stateAt(3 * n2 + 1)
      .select(col("pk").as("pk2"), col("status").as("new_status"))
    s1.join(s2, col("pk1") === col("pk2"), "full")
      .select(coalesce(col("pk1"), col("pk2")).as("pk"),
        when(col("pk1").isNull, "added")
          .when(col("pk2").isNull, "removed")
          .when(col("old_status") =!= col("new_status"), "modified")
          .as("change"),
        col("old_status"), col("new_status"))
      .filter(col("change").isNotNull)
      .orderBy("pk")
  }

  /** Oracle: both as-of states closed-form (at cut 3n+1: insert played
    * iff k ≤ n, update iff k < n and k%4≠1, delete iff k < n and
    * k%4=3), diffed the same way. */
  val cdc13Sql: String =
    """WITH p AS (SELECT MAX(o_orderkey) // 3 AS n1,
      |             2 * (MAX(o_orderkey) // 3) AS n2 FROM orders),
      |s1 AS (SELECT o_orderkey AS pk,
      |    CASE WHEN o_orderkey < (SELECT n1 FROM p)
      |              AND o_orderkey % 4 != 1
      |         THEN o_orderstatus ELSE 'NEW' END AS old_status
      |  FROM orders
      |  WHERE o_orderkey <= (SELECT n1 FROM p)
      |    AND NOT (o_orderkey < (SELECT n1 FROM p)
      |             AND o_orderkey % 4 = 3)),
      |s2 AS (SELECT o_orderkey AS pk,
      |    CASE WHEN o_orderkey < (SELECT n2 FROM p)
      |              AND o_orderkey % 4 != 1
      |         THEN o_orderstatus ELSE 'NEW' END AS new_status
      |  FROM orders
      |  WHERE o_orderkey <= (SELECT n2 FROM p)
      |    AND NOT (o_orderkey < (SELECT n2 FROM p)
      |             AND o_orderkey % 4 = 3)),
      |d AS (SELECT COALESCE(s1.pk, s2.pk) AS pk,
      |    CASE WHEN s1.pk IS NULL THEN 'added'
      |         WHEN s2.pk IS NULL THEN 'removed'
      |         WHEN old_status != new_status THEN 'modified' END AS change,
      |    old_status, new_status
      |  FROM s1 FULL JOIN s2 ON s1.pk = s2.pk)
      |SELECT pk, change, old_status, new_status FROM d
      |WHERE change IS NOT NULL ORDER BY pk""".stripMargin

  // ------------------------------------------------------------- CDC14
  /** Transport-integrity audit — the check a consumer runs before
    * trusting a replay: the at-least-once file/Kafka transport can
    * re-deliver lines, and a capture crash can strand a transaction's
    * begin without its commit (the reference holds open transactions in
    * memory, postgresql.js:14-17 — a killed worker loses exactly the
    * commit). Three independent anomaly detectors share one decode and
    * union into one report:
    *
    *   - `orphan_tx`: a begin id with fewer commits than begins — the
    *     open transaction a restarted assembler must discard;
    *   - `stranded_commit`: a commit id with no begin (replay started
    *     mid-transaction);
    *   - `dup_delivery`: a seq delivered more than once (at-least-once
    *     re-delivery; downstream appliers must dedup on seq).
    *
    * None of the checks needs the tx-id prefix carry: begin/commit
    * pairing groups CONTROL rows only by their own ids, and duplicate
    * detection groups the narrow (seq) column — two partial-agg
    * shuffles over narrow rows, no windows, no carries, so the audit
    * stays cheap enough to run on every replay at 100 TB. Faults are
    * planted deterministically on the stride-4 seq grid (commit lane
    * dropped where key%89=0, DML lane re-delivered where key%97=0), so
    * the oracle is closed-form over `orders`. */
  /** Audit core over any decoded stream with (seq, kind, begin_id,
    * commit_id) — exposed so specs can plant hand-built anomalies. The
    * input should be materialized (both detectors fork it). */
  private[graft] def txAudit(decoded: DataFrame): DataFrame = {
    val txPairing = decoded
      .filter(col("kind").isin("beginTransaction", "commitTransaction"))
      .groupBy(coalesce(col("begin_id"), col("commit_id")).as("key"))
      .agg(count(col("begin_id")).as("n_begin"),
        count(col("commit_id")).as("n_commit"))
      .filter(col("n_begin") =!= col("n_commit"))
      .select(
        when(col("n_begin") > col("n_commit"), "orphan_tx")
          .otherwise("stranded_commit").as("anomaly"),
        col("key"), abs(col("n_begin") - col("n_commit")).as("n"))
    val dupDelivery = decoded.groupBy(col("seq").as("key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(lit("dup_delivery").as("anomaly"), col("key"), col("n"))
    txPairing.unionAll(dupDelivery)
  }

  def cdc14_tx_audit(s: SparkSession, dir: String): DataFrame = {
    val lines = syntheticLines(s, dir)
    // planted transport faults (lane arithmetic: begin=4k, dml=4k+2,
    // commit=4k+3): drop commits of k%89=0, re-deliver DML of k%97=0
    val faulty = lines
      .filter(!expr("seq % 4 = 3 AND (seq div 4) % 89 = 0"))
      .unionAll(lines.filter(expr("seq % 4 = 2 AND (seq div 4) % 97 = 0")))
    val d = JsonCdc.decode(faulty)
      .select(col("seq"), col("kind"), col("begin_id"), col("commit_id"))
      .localCheckpoint() // both detectors read one decode of one stream
    txAudit(d).orderBy("anomaly", "key")
  }

  /** Oracle: the planted faults, closed-form from the key grid. */
  val cdc14Sql: String =
    """WITH k AS (SELECT o_orderkey AS k FROM orders)
      |SELECT 'orphan_tx' AS anomaly, k AS key, CAST(1 AS BIGINT) AS n
      |FROM k WHERE k % 89 = 0
      |UNION ALL
      |SELECT 'dup_delivery', 4 * k + 2, CAST(2 AS BIGINT)
      |FROM k WHERE k % 97 = 0
      |ORDER BY anomaly, key""".stripMargin

  // ------------------------------------------------------------- CDC15
  /** FRESHNESS / REPLICATION-LAG report — the per-(table, kind) health
    * dashboard a replay consumer watches: event count, last delivered
    * seq, and the lag behind the stream head (a table whose lag only
    * grows has stopped replicating; a kind that vanishes flags a
    * producer-side filter change). Runs over the UNFILTERED decode —
    * monitoring must see pg_temp/excluded traffic precisely because the
    * query surface drops it. ONE decode (narrow columns, snapshotted so
    * the head probe and the per-table agg don't parse twice), two
    * partial aggs, |tables × kinds| + 1 rows total; the one-row head
    * broadcasts. Oracle = the generation rules in closed form. */
  def cdc15_lag(s: SparkSession, dir: String): DataFrame = {
    val decoded = JsonCdc.decode(syntheticLines(s, dir))
      .select("seq", "kind", "table").localCheckpoint()
    val head = decoded.agg(max(col("seq")).as("head_seq"))
    decoded
      .filter(col("table").isNotNull &&
        col("kind").isin("insert", "update", "delete"))
      .groupBy("table", "kind")
      .agg(count(lit(1)).as("n_events"), max(col("seq")).as("last_seq"))
      .join(broadcast(head))
      .withColumn("lag", col("head_seq") - col("last_seq"))
      .select("table", "kind", "n_events", "last_seq", "lag")
      .orderBy("table", "kind")
  }

  val cdc15Sql: String =
    """WITH o AS (SELECT o_orderkey AS k FROM orders),
      |d AS (SELECT
      |    CASE WHEN k % 10 = 9 THEN 'pg_temp_refresh'
      |         WHEN k % 10 = 8 THEN 'audit_log'
      |         ELSE 'orders' END AS "table",
      |    CASE WHEN k % 3 = 0 THEN 'insert'
      |         WHEN k % 3 = 1 THEN 'update'
      |         ELSE 'delete' END AS kind,
      |    4 * k + 2 AS seq
      |  FROM o),
      |h AS (SELECT MAX(4 * k + 3) AS head_seq FROM o)
      |SELECT "table", kind, count(*) AS n_events,
      |  CAST(MAX(seq) AS BIGINT) AS last_seq,
      |  CAST(h.head_seq - MAX(seq) AS BIGINT) AS lag
      |FROM d, h GROUP BY "table", kind, h.head_seq
      |ORDER BY "table", kind""".stripMargin

  // ----------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc15_lag" -> (cdc15_lag _),
    "cdc1_decode" -> (cdc1_decode _),
    "cdc2_routing" -> (cdc2_routing _),
    "cdc3_mysql" -> (cdc3_mysql _),
    "cdc4_mongo" -> (cdc4_mongo _),
    "cdc5_apply" -> (cdc5_apply _),
    "cdc6_scd2" -> (cdc6_scd2 _),
    "cdc7_schema_diff" -> (cdc7_schema_diff _),
    "cdc8_ivm" -> (cdc8_ivm _),
    "cdc9_scd2_merge" -> (cdc9_scd2_merge _),
    "cdc10_ivm_join" -> (cdc10_ivm_join _),
    "cdc11_ivm_distinct" -> (cdc11_ivm_distinct _),
    "cdc12_quarantine" -> (cdc12_quarantine _),
    "cdc13_version_diff" -> (cdc13_version_diff _),
    "cdc14_tx_audit" -> (cdc14_tx_audit _))

  def oracles: Map[String, String] = Map(
    "cdc1_decode" -> cdc1Sql,
    "cdc2_routing" -> cdc2Sql,
    "cdc3_mysql" -> cdc3Sql,
    "cdc4_mongo" -> cdc4Sql,
    "cdc5_apply" -> cdc5Sql,
    "cdc6_scd2" -> cdc6Sql,
    "cdc7_schema_diff" -> cdc7Sql,
    "cdc8_ivm" -> cdc8Sql,
    "cdc9_scd2_merge" -> cdc9Sql,
    "cdc10_ivm_join" -> cdc10Sql,
    "cdc11_ivm_distinct" -> cdc11Sql,
    "cdc12_quarantine" -> cdc12Sql,
    "cdc13_version_diff" -> cdc13Sql,
    "cdc14_tx_audit" -> cdc14Sql,
    "cdc15_lag" -> cdc15Sql)
}
