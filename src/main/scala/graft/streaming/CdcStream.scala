package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.subscribe.BackendConfig

/** Source builders: raw CDC line streams → canonical envelope streams.
  *
  * Capture is external (SURVEY.md §0 — pg_recvlogical / Debezium / oplog
  * tailers write LDJSON files or Kafka topics); Spark consumes an ordered
  * (backend, seq, line) stream. For Kafka, backend=topic (one topic per
  * configured backend, ConfigValidation) and seq=offset; for file replay
  * the capture layer stamps backend and seq, and a configured backend
  * reads the lines stamped with its name, so several backends may share
  * one capture directory. One streaming query per backend mirrors the
  * reference's worker-per-backend process model (lapidus.js:88-109)
  * inside a single SparkSession.
  */
object CdcStream {

  /** Capture-layer line contract. */
  val lineSchema: StructType = StructType(Seq(
    StructField("backend", StringType),
    StructField("seq", LongType),
    StructField("line", StringType)))

  /** File-based LDJSON capture directory → raw line stream. The
    * per-trigger file cap is the memory bound for the in-microbatch
    * sorts downstream (CdcPipeline/TxAssembly) — a backlogged directory
    * must arrive in capped batches, not as one giant first batch. */
  def fileLines(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(lineSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(path)

  // engine-level options that must not leak into the Kafka reader config
  // (maxFilesPerTrigger is the FILE transport's batch cap; Kafka's
  // analogue, maxOffsetsPerTrigger, passes through on purpose)
  private val engineOptions =
    Set("wire", "txTimeoutMs", "checkpoint", "maxFilesPerTrigger")

  private val shufflePartitions = "spark.sql.shuffle.partitions"

  /** Build the full pipeline for one configured backend. Transport and
    * wire format are independent (BackendConfig.resolvedSource ×
    * resolvedWire): ANY wire format rides ANY transport through the same
    * (backend, seq, line) contract, the reference's
    * one-worker-per-backend-of-any-type model (lapidus.js:88-109 — the
    * master forks identically for pg/mysql/mongo workers). The caller
    * attaches sinks (SinkRegistry.attach) and starts the query.
    *
    * State partitions: a session with no explicit
    * `spark.sql.shuffle.partitions` gets 1. The stateful operators these
    * streams run (CdcPipeline's dispatch, BinlogStream's tablemap carry)
    * are keyed by `backend`, and a query built here carries one key: a
    * file backend keeps only the lines stamped with `cfg.name`, and a
    * validated Kafka backend subscribes to one topic. Spark's default of
    * 200 would load and commit 199 empty state stores every trigger. An
    * explicit setting (`--conf`, `-D`, the offline profile) wins, and a
    * restarted query keeps its checkpoint's count, which Spark restores
    * from the offset log. The rule lives here, not in `Harness.cliConf`,
    * because the count follows from the key of the operator built here,
    * and every daemon path calls this builder. `getOption` reports the
    * default for an unset key, so only `getAll` tells unset from "200".
    *
    * Side effect: the setting is made on `spark` itself, so every later
    * batch query on that session also shuffles to 1 partition (AQE can
    * coalesce partitions but not add them). Give such work a session of
    * its own (`spark.newSession()`) or set the count explicitly. */
  def forBackend(spark: SparkSession, cfg: BackendConfig): DataFrame = {
    if (!spark.conf.getAll.contains(shufflePartitions))
      spark.conf.set(shufflePartitions, "1")
    val lines = cfg.resolvedSource match {
      // Kafka callers pass maxOffsetsPerTrigger for the same batch cap
      case "file" => fileLines(spark, cfg.options("path"),
          cfg.options.getOrElse("maxFilesPerTrigger", "16").toInt)
        .filter(col("backend") === cfg.name)
      case "kafka" =>
        kafkaRecordsToLines(
          spark.readStream.format("kafka")
            .options(cfg.options -- engineOptions)
            .load())
      case other =>
        throw new IllegalArgumentException(s"invalid backend source: $other")
    }
    fromLines(lines, cfg)
  }

  /** Shape Kafka records into the line contract: backend = topic,
    * seq = offset, line = UTF-8 of the value bytes — the exact frame
    * `fileLines` produces, so every wire decoder downstream is
    * transport-blind. Factored off the readStream so the shaping (and
    * the full wire dispatch behind it) is testable on a batch frame:
    * this container ships no spark-sql-kafka connector jar and no
    * broker, so no bytes have ever flowed through the `readStream
    * .format("kafka")` call itself — see README (Kafka transport
    * status) for what is and is not covered. */
  def kafkaRecordsToLines(records: DataFrame): DataFrame =
    records.select(col("topic").as("backend"), col("offset").as("seq"),
      col("value").cast("string").as("line"))

  /** Wire-format dispatch over the transport-agnostic (backend, seq,
    * line) contract — exactly the frame both `fileLines` and the Kafka
    * select above produce. PG (jsoncdc) runs the full stateful dispatch
    * op (schema attach, tx-id carry, and — when `emitTransaction` is on —
    * assembled `transaction` rows, CdcPipeline); MySQL binlog runs the
    * keyed tablemap carry (BinlogStream); Mongo oplog is stateless. All
    * three emit the canonical envelope surface. */
  def fromLines(lines: DataFrame, cfg: BackendConfig): DataFrame =
    cfg.resolvedWire match {
      case "jsoncdc" =>
        CdcPipeline.run(
          TxAssembly.decodeToEvents(lines, cfg.excludeTables),
          cfg.emit.transaction, cfg.options.get("txTimeoutMs").map(_.toLong))
      case "binlog" =>
        BinlogStream.envelopes(lines, cfg.excludeTables)
      case "oplog" =>
        // stateless: decode directly; conform to the envelope surface
        // (table = ns so the routing subject is the reference's `ns.pk`,
        // nats.js:19-21, with a null schema component)
        graft.cdc.OplogCdc.decode(lines)
          .select(col("backend"), col("seq"), col("kind"),
            col("ns").as("table"), col("pk"), col("item"))
      case other =>
        throw new IllegalArgumentException(
          s"invalid backend wire format: $other")
    }
}
