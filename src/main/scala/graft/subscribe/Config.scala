package graft.subscribe

import graft.sinks.SinkRegistry

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
  * (jsoncdc | binlog | oplog). `options.checkpoint` names the streaming
  * checkpoint, which `cli.Main -c` requires.
  */
case class BackendConfig(
    name: String,
    source: String = "", // "file" | "kafka"
    wire: String = "", // "jsoncdc" | "binlog" | "oplog"
    options: Map[String, String] = Map.empty,
    excludeTables: Seq[String] = Nil,
    emit: EmitFlags = EmitFlags(),
    sinks: Seq[SinkConfig] = Seq(SinkRegistry.default))

case class EngineConfig(backends: Seq[BackendConfig])

object ConfigValidation {
  // exactly the axes CdcStream.forBackend can build — a config that
  // passes `-t` validation must not crash at daemon start
  val supportedSources: Set[String] = Set("file", "kafka")
  val supportedWires: Set[String] = Set("jsoncdc", "binlog", "oplog")

  private def oneOf(values: Set[String]): String =
    values.toSeq.sorted.mkString("(", "|", ")")

  /** How a backend names its transport and decoder: the hint for a
    * config that names them any other way. */
  val axesHint: String =
    s"set the backend's source field ${oneOf(supportedSources)} and its " +
      s"wire field ${oneOf(supportedWires)}"

  /** `path` as a location to compare: a trailing or doubled slash and a
    * `file:` scheme name no other location. A string Hadoop cannot parse
    * as a path compares as itself. */
  private def location(path: String): String =
    scala.util.Try(new org.apache.hadoop.fs.Path(path.trim).toUri).map {
      uri =>
        if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
        else uri.toString
    }.getOrElse(path.trim)

  /** A URI scheme (`file:`, `hdfs:`, `s3a:`) at the start of a path. */
  private val scheme = "^[A-Za-z][A-Za-z0-9+.-]*:".r

  /** One error per location that more than one of `owners` uses. */
  private def shared(what: String, owners: Seq[(String, String)])
      : Seq[String] =
    owners.groupBy { case (_, path) => location(path) }.toSeq.sortBy(_._1)
      .collect { case (loc, os) if os.size > 1 =>
        s"$what share one path ($loc): ${os.map(_._1).mkString(", ")}"
      }

  /** Errors for each option `k` of `limits` set in `options` to anything
    * but a positive integer up to its limit. The limits are the readers'
    * parses: `SinkRegistry` reads a sink kind's `intOptions` and
    * `CdcStream.forBackend` a backend's `maxFilesPerTrigger` with
    * `.toInt`, and its `txTimeoutMs` with `.toLong`. */
  private def numericErrors(options: Map[String, String], what: String,
      limits: (String, Long)*): Seq[String] =
    limits.flatMap { case (k, max) =>
      options.get(k).filterNot(_.toLongOption.exists(n => n > 0 && n <= max))
        .map(v => s"$what option $k must be a positive integer: $v")
    }

  /** A non-blank value of option `k`. */
  private def nonBlank(options: Map[String, String], k: String)
      : Option[String] =
    options.get(k).filter(_.trim.nonEmpty)

  /** Envelope kinds a sink may subscribe to (SinkConfig.kinds). */
  val supportedKinds: Set[String] = Set(
    "insert", "update", "delete", "schema", "beginTransaction",
    "commitTransaction", "transaction", "event")

  /** Aggregate-errors validation in the spirit of lapidus.js:51-86:
    * at least one backend; every backend names a supported `source` and
    * `wire` and an `options.checkpoint`; every sink kind resolves in
    * `SinkRegistry`, and a file-landing sink names a local path;
    * numeric options are positive integers; a kafka backend reads one
    * topic. Backend names are unique, and no two backends share a
    * checkpoint nor two file-landing sinks a path: the second writer
    * would take the first's committed versions for replays of its own
    * and drop its rows without an error. */
  def validate(cfg: EngineConfig): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (cfg.backends.isEmpty)
      errs += "Lapidus requires at least one backend to run"
    cfg.backends.groupBy(_.name).toSeq.sortBy(_._1)
      .collect { case (n, bs) if bs.size > 1 => n }
      .foreach(n => errs += s"duplicate backend name: $n")
    errs ++= shared("backend checkpoints", for {
      b <- cfg.backends
      c <- nonBlank(b.options, "checkpoint")
    } yield b.name -> c)
    errs ++= shared("file-landing sinks", for {
      b <- cfg.backends
      s <- b.sinks
      if SinkRegistry.kinds.get(s.kind).exists(_.lands)
      p <- nonBlank(s.options, "path")
    } yield s"${b.name}/${s.kind}" -> p)
    cfg.backends.foreach { b =>
      if (b.name.isEmpty) errs += "backend missing name"
      if (b.source.isEmpty)
        errs += s"${b.name}: backend requires source " +
          oneOf(supportedSources)
      else if (!supportedSources.contains(b.source))
        errs += s"${b.name}: invalid backend source: ${b.source}"
      if (b.wire.isEmpty)
        errs += s"${b.name}: backend requires wire " +
          oneOf(supportedWires)
      else if (!supportedWires.contains(b.wire))
        errs += s"${b.name}: invalid backend wire format: ${b.wire}"
      if (b.options.contains("wire"))
        errs += s"${b.name}: options.wire is not read: $axesHint"
      if (nonBlank(b.options, "checkpoint").isEmpty)
        errs += s"${b.name}: backend requires options.checkpoint " +
          "(a directory on storage that outlives the daemon)"
      b.sinks.foreach { s =>
        val kind = SinkRegistry.kinds.get(s.kind)
        if (kind.isEmpty) errs += s"${b.name}: invalid plugin: ${s.kind}"
        s.kinds.filterNot(supportedKinds.contains).foreach { k =>
          errs += s"${b.name}: invalid event kind for plugin ${s.kind}: $k"
        }
        kind.foreach { k =>
          if (k.lands) nonBlank(s.options, "path") match {
            case None =>
              errs += s"${b.name}: ${s.kind} sink requires options.path"
            case Some(p) if scheme.findPrefixOf(p.trim).nonEmpty =>
              errs += s"${b.name}: ${s.kind} sink options.path must be " +
                s"a local path, not a URI: $p (its versions commit " +
                "through java.io.File until VersionedState moves onto " +
                "the Hadoop FileSystem API, ROADMAP direction H)"
            case _ =>
          }
          errs ++= numericErrors(s.options, s"${b.name}: ${s.kind} sink",
            k.intOptions.map(_ -> Int.MaxValue.toLong): _*)
        }
      }
      errs ++= numericErrors(b.options, s"${b.name}: backend",
        "maxFilesPerTrigger" -> Int.MaxValue.toLong,
        "txTimeoutMs" -> Long.MaxValue)
      if (b.source == "file" && !b.options.contains("path"))
        errs += s"${b.name}: file backend requires options.path"
      // backend = topic downstream, and CdcStream.forBackend runs each
      // query on one state partition: one topic per configured backend
      if (b.source == "kafka" && (b.options.contains("subscribePattern") ||
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
