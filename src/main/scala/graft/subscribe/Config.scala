package graft.subscribe

/** Subscription configuration — the reference's per-backend config surface
  * (README.md:100-160, validation src/lapidus.js:51-86, cascade semantics
  * src/postgresql.js:132-170).
  */

/** Per-kind emit switches with the reference's cascade rule: a kind
  * follows the master `emitEvents` unless explicitly customized
  * (postgresql.js:153-170 — "don't overwrite customized child").
  */
case class EmitFlags(
    emitEvents: Boolean = true,
    emitInsert: Option[Boolean] = None,
    emitUpdate: Option[Boolean] = None,
    emitDelete: Option[Boolean] = None,
    emitSchema: Option[Boolean] = None,
    emitBeginTransaction: Option[Boolean] = None,
    emitCommitTransaction: Option[Boolean] = None,
    emitTransaction: Option[Boolean] = None,
    emitEvent: Option[Boolean] = None) {

  def insert: Boolean = emitInsert.getOrElse(emitEvents)
  def update: Boolean = emitUpdate.getOrElse(emitEvents)
  def delete: Boolean = emitDelete.getOrElse(emitEvents)
  def schema: Boolean = emitSchema.getOrElse(emitEvents)
  def beginTransaction: Boolean = emitBeginTransaction.getOrElse(emitEvents)
  def commitTransaction: Boolean = emitCommitTransaction.getOrElse(emitEvents)
  def transaction: Boolean = emitTransaction.getOrElse(emitEvents)
  def event: Boolean = emitEvent.getOrElse(emitEvents)

  /** Kinds currently enabled (for building the stream filter). */
  def enabledKinds: Seq[String] = Seq(
    "insert" -> insert, "update" -> update, "delete" -> delete,
    "schema" -> schema, "beginTransaction" -> beginTransaction,
    "commitTransaction" -> commitTransaction,
    "transaction" -> transaction).collect { case (k, true) => k }
}

/** One sink ("plugin") attachment. `kinds` scopes the sink to a subset
  * of envelope kinds — the reference's per-kind callback registry
  * (postgresql.js:99-122); empty = subscribe to everything. */
case class SinkConfig(
    kind: String,
    options: Map[String, String] = Map.empty,
    kinds: Seq[String] = Nil)

/** One backend (source) — capture itself stays external (Debezium /
  * pg_recvlogical writing LDJSON or Kafka); Spark consumes the stream.
  *
  * Transport and wire format are independent axes, mirroring the
  * reference's one-worker-per-backend-of-any-type model
  * (lapidus.js:88-109 — the master forks the same way for pg/mysql/mongo;
  * only the decode inside the worker differs): `source` picks the
  * transport (file | kafka), `wire` picks the decoder
  * (jsoncdc | binlog | oplog). The legacy fused `kind` values
  * (file-ldjson, kafka, file-binlog-json, file-oplog-json) are still
  * accepted and resolve onto the two axes.
  */
case class BackendConfig(
    name: String,
    kind: String = "", // legacy fused kind; prefer source × wire
    options: Map[String, String] = Map.empty,
    excludeTables: Seq[String] = Nil,
    emit: EmitFlags = EmitFlags(),
    sinks: Seq[SinkConfig] = Seq(SinkConfig("console")),
    source: String = "", // "file" | "kafka"
    wire: String = "") { // "jsoncdc" | "binlog" | "oplog"

  /** Transport after legacy-kind resolution ("" if unresolvable). */
  def resolvedSource: String =
    if (source.nonEmpty) source
    else kind match {
      case "file-ldjson" | "file-binlog-json" | "file-oplog-json" => "file"
      case "kafka" => "kafka"
      case _ => ""
    }

  /** Wire format after legacy-kind resolution. Precedence: explicit
    * `wire` field > options("wire") where no fused kind binds it (the
    * kafka escape hatch, and new-axes configs with kind="" — the file
    * kinds always bound their wire to the kind, so a stray options.wire
    * on them must stay inert) > the kind's historical binding. */
  def resolvedWire: String =
    if (wire.nonEmpty) wire
    else {
      val escapeHatch =
        if (kind == "kafka" || kind.isEmpty)
          options.get("wire").filter(_.nonEmpty)
        else None
      escapeHatch.getOrElse(kind match {
        case "file-ldjson" | "kafka" => "jsoncdc"
        case "file-binlog-json" => "binlog"
        case "file-oplog-json" => "oplog"
        case _ => ""
      })
    }
}

case class EngineConfig(backends: Seq[BackendConfig])

object ConfigValidation {
  // exactly the axes CdcStream.forBackend can build — a config that
  // passes `-t` validation must not crash at daemon start
  val supportedSources: Set[String] = Set("file", "kafka")
  val supportedWires: Set[String] = Set("jsoncdc", "binlog", "oplog")
  val supportedSinks: Set[String] =
    Set("console", "collect", "subject-routing", "parquet",
      "parquet-exactly-once", "snapshot")
  /** Envelope kinds a sink may subscribe to (SinkConfig.kinds). */
  val supportedKinds: Set[String] = Set(
    "insert", "update", "delete", "schema", "beginTransaction",
    "commitTransaction", "transaction", "event")

  /** Aggregate-errors validation in the spirit of lapidus.js:51-86:
    * at least one backend; every backend kind must have a worker; every
    * sink kind must resolve in the registry; a kafka backend reads one
    * topic. */
  def validate(cfg: EngineConfig): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (cfg.backends.isEmpty)
      errs += "Lapidus requires at least one backend to run"
    cfg.backends.foreach { b =>
      if (b.name.isEmpty) errs += "backend missing name"
      val src = b.resolvedSource
      val wireFmt = b.resolvedWire
      if (src.isEmpty && wireFmt.isEmpty)
        // an unknown fused kind resolves to neither axis — report it as
        // the reference would (lapidus.js:58-63 "invalid backend type")
        errs += s"${b.name}: invalid backend type: ${b.kind}"
      else {
        if (!supportedSources.contains(src))
          errs += s"${b.name}: invalid backend source: $src"
        if (!supportedWires.contains(wireFmt))
          errs += s"${b.name}: invalid backend wire format: $wireFmt"
      }
      b.sinks.foreach { s =>
        if (!supportedSinks.contains(s.kind))
          errs += s"${b.name}: invalid plugin: ${s.kind}"
        s.kinds.filterNot(supportedKinds.contains).foreach { k =>
          errs += s"${b.name}: invalid event kind for plugin ${s.kind}: $k"
        }
      }
      if (src == "file" && !b.options.contains("path"))
        errs += s"${b.name}: file backend requires options.path"
      // backend = topic downstream, and CdcStream.forBackend runs each
      // query on one state partition: one topic per configured backend
      if (src == "kafka" && (b.options.contains("subscribePattern") ||
          b.options.contains("assign") ||
          !b.options.get("subscribe").exists(t =>
            t.trim.nonEmpty && !t.contains(","))))
        errs += s"${b.name}: kafka backend requires options.subscribe " +
          "naming exactly one topic (no subscribePattern or assign); " +
          "configure one backend per topic"
    }
    errs.result()
  }
}
