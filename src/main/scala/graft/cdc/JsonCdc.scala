package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Decoder for the jsoncdc wire format the reference consumes from
  * `pg_recvlogical` (reference: /root/reference/src/postgresql.js:373-548).
  *
  * Line shapes (one JSON object per line):
  *   {"begin": txId}
  *   {"schema": {col: type, ...}, "table": t}
  *   {"insert": {row}, "table": t}
  *   {"update": {row}, "table": t}
  *   {"delete": true, "@": {old row, nulls for non-pk}, "table": t}
  *   {"commit": txId, "t": "timestamp"}
  *
  * Each line is parsed exactly ONCE with `from_json` into a fixed struct
  * (sub-objects land as raw JSON strings — Spark's Jackson parser
  * preserves the subtree text for StringType fields), then everything
  * downstream is pure column logic. The `item` payload stays raw JSON
  * text: schemas are dynamic/out-of-band in CDC (reference schema-cache,
  * postgresql.js:430-436), so per-table StructType application happens
  * lazily at query time — never at decode time.
  */
object JsonCdc {

  /** One-parse schema for a jsoncdc line: sub-objects (`insert`, `update`,
    * `schema`, `@`) are captured as raw JSON strings; `delete` is the
    * literal `true` (captured as text, only null-ness matters). */
  private val lineSchema = StructType(Seq(
    StructField("insert", StringType),
    StructField("update", StringType),
    StructField("delete", StringType),
    StructField("schema", StringType),
    StructField("begin", LongType),
    StructField("commit", LongType),
    StructField("t", StringType),
    StructField("table", StringType),
    StructField("@", StringType)))

  /** Event-kind classification — the reference's lineHandler dispatch
    * chain (postgresql.js:400-469), as a when-chain over which top-level
    * key is present in the already-parsed line struct. */
  private def kindOf(p: Column): Column =
    when(p.getField("insert").isNotNull, "insert")
      .when(p.getField("update").isNotNull, "update")
      .when(p.getField("delete").isNotNull, "delete")
      .when(p.getField("schema").isNotNull, "schema")
      .when(p.getField("begin").isNotNull, "beginTransaction")
      .when(p.getField("commit").isNotNull, "commitTransaction")
      .otherwise("unknown")

  /** pk for insert/update: item.id || item.ID (postgresql.js:472). */
  def pkOfItem(item: Column): Column = {
    val m = from_json(item, MapType(StringType, StringType))
    coalesce(element_at(m, "id"), element_at(m, "ID"))
  }

  /** pk for delete: value of the first key of the old-row image whose
    * value is non-null (postgresql.js:423-425). One map parse; `get` is
    * null-safe on the (theoretical) all-null image. */
  def pkOfOldImage(old: Column): Column = {
    val m = from_json(old, MapType(StringType, StringType))
    get(map_values(map_filter(m, (_, v) => v.isNotNull)), lit(0))
  }

  /** Decode a frame with a string column `line` into the canonical
    * envelope (SURVEY.md §1.1): kind, table, item (raw json), old_image,
    * begin_id / commit_id / commit_ts, pk. Deletes carry the old-row
    * image as `item` so downstream consumers (tx assembly, sinks) see
    * row data, matching the reference (postgresql.js:416-420 sets
    * msg.item = line['@'] for deletes). Extra input columns (seq,
    * offsets, ...) pass through. */
  def decode(df: DataFrame, lineCol: String = "line"): DataFrame = {
    df.withColumn("_p", from_json(col(lineCol), lineSchema))
      .withColumn("kind", kindOf(col("_p")))
      .withColumn("table", col("_p.table"))
      .withColumn("old_image", col("_p").getField("@"))
      .withColumn("item",
        coalesce(col("_p.insert"), col("_p.update"), col("old_image")))
      .withColumn("schema_json", col("_p.schema"))
      .withColumn("begin_id", col("_p.begin"))
      .withColumn("commit_id", col("_p.commit"))
      .withColumn("commit_ts", to_timestamp(col("_p.t")))
      .withColumn("pk",
        when(col("kind").isin("insert", "update"), pkOfItem(col("item")))
          .when(col("kind") === "delete", pkOfOldImage(col("old_image"))))
      .drop("_p")
  }

  /** Table filters — the reference's two stream filters:
    * pg_temp noise (postgresql.js:386-391, hardcoded) and user
    * excludeTables (postgresql.js:393-397). Rows with no table
    * (begin/commit) always pass. */
  def filterTables(df: DataFrame, excludeTables: Seq[String]): DataFrame = {
    val base = df.filter(
      col("table").isNull || !col("table").startsWith("pg_temp_"))
    if (excludeTables.isEmpty) base
    else base.filter(
      col("table").isNull || !col("table").isin(excludeTables: _*))
  }

  /** Attach txId to every event: the id of the most recent begin line at
    * or before it, in stream order (`seqCol`). Scale-safe two-level
    * prefix scan (PrefixCarry — bounded per-task windows, linear summary
    * resolution); the streaming path keeps the same semantics with keyed
    * state (graft.streaming.CdcPipeline). */
  def withTxId(df: DataFrame, seqCol: String = "seq",
               bucketSize: Long = 0): DataFrame =
    PrefixCarry.lastNonNull(df, "begin_id", "tx_id", seqCol,
      keys = Nil, bucketSize = bucketSize)

  /** O13 schema-cache attach: stamp each event with the latest schema
    * line seen for its table at or before it in stream order — the
    * reference caches jsoncdc schema lines per table and attaches the
    * cached schema to every subsequent DML envelope
    * (postgresql.js:430-436, attach at 418/477). Keyed by table (plus
    * any extra stream keys, e.g. backend) through the same bucketed
    * prefix scan as withTxId, so a single hot table in a batch replay
    * never funnels through one task. Streaming path:
    * graft.streaming.CdcPipeline keeps the same cache as keyed state. */
  def withSchemaAttached(df: DataFrame, seqCol: String = "seq",
                         extraKeys: Seq[String] = Nil): DataFrame =
    PrefixCarry.lastNonNull(df, "schema_json", "schema", seqCol,
      keys = extraKeys :+ "table")

  /** NATS-style routing subject: schema.table.pk
    * (reference: /root/reference/src/plugins/nats.js:17-21). */
  def subject(schemaName: Column, table: Column, pk: Column): Column =
    concat_ws(".", schemaName, table, pk)

  /** Cache-bus verb per event kind
    * (reference: /root/reference/src/plugins/nats.js:25-28). */
  def cacheVerb(kind: Column): Column =
    when(kind === "insert", "populate")
      .when(kind === "update", "invalidate")
      .when(kind === "delete", "purge")

  /** Cache-bus subject: {prefix}.{verb}.{subject}. */
  def cacheSubject(prefix: String, kind: Column, subj: Column): Column =
    concat_ws(".", lit(prefix), cacheVerb(kind), subj)
}
