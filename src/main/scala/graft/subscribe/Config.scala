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

  /** The streaming checkpoint `cli.Main -c` starts this backend's query
    * on: options.checkpoint, else one derived from the name. */
  def checkpoint: String =
    options.getOrElse("checkpoint", s"/tmp/graft-ckpt-$name")

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
  /** Sinks that land files under `options.path`: each a versioned table
    * (`VersionedState`), whose writer takes a committed `batch=<b>` it
    * finds there for its own replay. */
  private val pathSinks: Set[String] =
    Set("parquet", "parquet-exactly-once", "snapshot")

  /** `path` as a location to compare: a trailing or doubled slash and a
    * `file:` scheme name no other location. A string Hadoop cannot parse
    * as a path compares as itself. */
  private def location(path: String): String =
    scala.util.Try(new org.apache.hadoop.fs.Path(path.trim).toUri).map {
      uri =>
        if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
        else uri.toString
    }.getOrElse(path.trim)

  /** One error per location that more than one of `owners` uses. */
  private def shared(what: String, owners: Seq[(String, String)])
      : Seq[String] =
    owners.groupBy { case (_, path) => location(path) }.toSeq.sortBy(_._1)
      .collect { case (loc, os) if os.size > 1 =>
        s"$what share one path ($loc): ${os.map(_._1).mkString(", ")}"
      }

  /** Errors for each option `k` of `limits` set in `options` to anything
    * but a positive integer up to its limit. The limits are the readers'
    * parses: `SinkRegistry` reads the console sink's `numRows` and
    * `CdcStream.forBackend` a backend's `maxFilesPerTrigger` with
    * `.toInt`, and its `txTimeoutMs` with `.toLong`. */
  private def numericErrors(options: Map[String, String], what: String,
      limits: (String, Long)*): Seq[String] =
    limits.flatMap { case (k, max) =>
      options.get(k).filterNot(_.toLongOption.exists(n => n > 0 && n <= max))
        .map(v => s"$what option $k must be a positive integer: $v")
    }

  /** Envelope kinds a sink may subscribe to (SinkConfig.kinds). */
  val supportedKinds: Set[String] = Set(
    "insert", "update", "delete", "schema", "beginTransaction",
    "commitTransaction", "transaction", "event")

  /** Aggregate-errors validation in the spirit of lapidus.js:51-86:
    * at least one backend; every backend kind must have a worker; every
    * sink kind must resolve in the registry, and a file-landing sink
    * names its path; numeric options are positive integers; a kafka
    * backend reads one topic. Backend names are unique, and no two
    * backends share a checkpoint nor two file-landing sinks a path:
    * the second writer would take the first's committed versions for
    * replays of its own and drop its rows without an error. */
  def validate(cfg: EngineConfig): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (cfg.backends.isEmpty)
      errs += "Lapidus requires at least one backend to run"
    cfg.backends.groupBy(_.name).toSeq.sortBy(_._1)
      .collect { case (n, bs) if bs.size > 1 => n }
      .foreach(n => errs += s"duplicate backend name: $n")
    errs ++= shared("backend checkpoints",
      cfg.backends.map(b => b.name -> b.checkpoint))
    errs ++= shared("file-landing sinks", for {
      b <- cfg.backends
      s <- b.sinks
      if pathSinks.contains(s.kind)
      p <- s.options.get("path").filter(_.trim.nonEmpty)
    } yield s"${b.name}/${s.kind}" -> p)
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
        if (pathSinks.contains(s.kind) &&
            !s.options.get("path").exists(_.trim.nonEmpty))
          errs += s"${b.name}: ${s.kind} sink requires options.path"
        if (s.kind == "console")
          errs ++= numericErrors(s.options, s"${b.name}: console sink",
            "numRows" -> Int.MaxValue.toLong)
      }
      errs ++= numericErrors(b.options, s"${b.name}: backend",
        "maxFilesPerTrigger" -> Int.MaxValue.toLong,
        "txTimeoutMs" -> Long.MaxValue)
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
