package graft.subscribe

import org.scalatest.funsuite.AnyFunSuite

/** Config + cascade semantics mirrored from the reference's module tests
  * (/root/reference/test/postgresql.test.js:101-211 — flag cascade incl.
  * "don't overwrite customized child") and config tests
  * (/root/reference/test/config.test.js:8-50 — helpful aggregate errors).
  */
class ConfigSpec extends AnyFunSuite {

  /** A valid jsoncdc file backend with checkpoint /ck/<name>. */
  private def fileBackend(name: String, sinks: SinkConfig*) =
    BackendConfig(name, source = "file", wire = "jsoncdc",
      options = Map("path" -> "/x", "checkpoint" -> s"/ck/$name"),
      sinks = sinks)

  test("per-kind flags follow the master switch by default") {
    val f = EmitFlags(emitEvents = false)
    assert(!f.insert && !f.update && !f.delete && !f.transaction)
    val on = EmitFlags(emitEvents = true)
    assert(on.insert && on.schema && on.commitTransaction)
  }

  test("customized child is not overwritten by the cascade") {
    val f = EmitFlags(emitEvents = false, emitInsert = Some(true))
    assert(f.insert, "explicit child survives master=false")
    assert(!f.update)
    val g = EmitFlags(emitEvents = true, emitDelete = Some(false))
    assert(!g.delete && g.insert)
  }

  test("enabledKinds reflects resolution") {
    val f = EmitFlags(emitEvents = false, emitInsert = Some(true),
      emitTransaction = Some(true))
    assert(f.enabledKinds.toSet == Set("insert", "transaction"))
  }

  test("validation requires at least one backend") {
    val errs = ConfigValidation.validate(EngineConfig(Nil))
    assert(errs.exists(_.contains("at least one backend")))
  }

  test("validation rejects unknown backend and plugin kinds, aggregated") {
    val cfg = EngineConfig(Seq(BackendConfig(
      name = "b1", source = "oracle", wire = "jsoncdc",
      options = Map("checkpoint" -> "/ck/b1"),
      sinks = Seq(SinkConfig("carrier-pigeon")))))
    val errs = ConfigValidation.validate(cfg)
    assert(errs.exists(_.contains("invalid backend source: oracle")))
    assert(errs.exists(_.contains("invalid plugin: carrier-pigeon")))
    assert(errs.size == 2, "errors aggregate instead of failing fast")
  }

  test("sink kind subscriptions validate against the envelope kinds") {
    val bad = EngineConfig(Seq(fileBackend("b1",
      SinkConfig("console", kinds = Seq("insert", "upsert")))))
    val errs = ConfigValidation.validate(bad)
    assert(errs == Seq("b1: invalid event kind for plugin console: upsert"))
    val ok = bad.copy(backends = bad.backends.map(b => b.copy(
      sinks = Seq(SinkConfig("console", kinds = Seq("insert", "update"))))))
    assert(ConfigValidation.validate(ok).isEmpty)
  }

  test("file-ldjson backend requires a path") {
    val cfg = EngineConfig(Seq(fileBackend("b").copy(
      options = Map("checkpoint" -> "/ck/b"))))
    assert(ConfigValidation.validate(cfg) ==
      Seq("b: file backend requires options.path"))
  }

  test("the collect test sink is no config kind: -t refuses it") {
    val errs = ConfigValidation.validate(EngineConfig(Seq(
      fileBackend("b", SinkConfig("collect")))))
    assert(errs == Seq("b: invalid plugin: collect"))
    intercept[IllegalArgumentException](
      graft.sinks.SinkRegistry.create(SinkConfig("collect")))
  }

  test("a backend without options.checkpoint is refused") {
    for (opts <- Seq(Map("path" -> "/x"),
        Map("path" -> "/x", "checkpoint" -> " ")))
      assert(ConfigValidation.validate(EngineConfig(Seq(
          fileBackend("b").copy(options = opts)))) ==
        Seq("b: backend requires options.checkpoint (a directory on " +
          "storage that outlives the daemon)"), s"$opts")
  }

  test("a backend kind field is refused at parse, naming source and wire") {
    val e = intercept[IllegalArgumentException](graft.cli.Main.parseConfig(
      """{"backends": [{"name": "pg1", "kind": "file-ldjson",
        |  "options": {"path": "/x", "checkpoint": "/ck/pg1"}}]}"""
        .stripMargin))
    assert(e.getMessage == "pg1: kind is not a backend field: set the " +
      "backend's source field (file|kafka) and its wire field " +
      "(binlog|jsoncdc|oplog)")
  }

  test("options.wire is refused, naming source and wire") {
    for (opts <- Seq(Map("wire" -> "binlog"), Map("wire" -> "")))
      assert(ConfigValidation.validate(EngineConfig(Seq(fileBackend("b")
          .copy(options = Map("path" -> "/x", "checkpoint" -> "/ck/b") ++
            opts)))) ==
        Seq("b: options.wire is not read: set the backend's source field " +
          "(file|kafka) and its wire field (binlog|jsoncdc|oplog)"),
        s"$opts")
  }

  test("a backend naming no source or wire is refused by field name, " +
      "never as a blank value") {
    assert(ConfigValidation.validate(EngineConfig(Seq(BackendConfig("b",
        options = Map("checkpoint" -> "/ck/b"))))) ==
      Seq("b: backend requires source (file|kafka)",
        "b: backend requires wire (binlog|jsoncdc|oplog)"))
  }

  test("a file-landing sink path with a URI scheme is refused") {
    for (kind <- Seq("parquet", "parquet-exactly-once", "snapshot");
        path <- Seq("file:///out/a", "hdfs://nn:8020/out/a", "s3a://b/a"))
      assert(ConfigValidation.validate(EngineConfig(Seq(fileBackend("b",
          SinkConfig(kind, Map("path" -> path)))))) ==
        Seq(s"b: $kind sink options.path must be a local path, not a " +
          s"URI: $path (its versions commit through java.io.File until " +
          "VersionedState moves onto the Hadoop FileSystem API, ROADMAP " +
          "direction H)"), s"$kind $path")
    // a checkpoint is written through Hadoop: a URI stays accepted
    assert(ConfigValidation.validate(EngineConfig(Seq(fileBackend("b")
      .copy(options = Map("path" -> "/x",
        "checkpoint" -> "hdfs://nn:8020/ck/b"))))).isEmpty)
  }

  test("a file-landing sink requires options.path") {
    def errs(sink: SinkConfig) = ConfigValidation.validate(EngineConfig(Seq(
      fileBackend("b", sink))))
    for (kind <- Seq("parquet", "parquet-exactly-once", "snapshot")) {
      assert(errs(SinkConfig(kind, Map("path" -> "/out"))).isEmpty, kind)
      for (opts <- Seq(Map.empty[String, String], Map("path" -> " ")))
        assert(errs(SinkConfig(kind, opts)) ==
          Seq(s"b: $kind sink requires options.path"), s"$kind $opts")
    }
    assert(errs(SinkConfig("console")).isEmpty)
  }


  test("two backends with one name are refused: they would share a " +
      "checkpoint") {
    val errs = ConfigValidation.validate(EngineConfig(Seq(
      fileBackend("pg1"), fileBackend("pg2"), fileBackend("pg1"))))
    assert(errs == Seq("duplicate backend name: pg1",
      "backend checkpoints share one path (/ck/pg1): pg1, pg1"))
  }

  test("two backends on one checkpoint path are refused, however the " +
      "path is spelled") {
    def on(name: String, ckpt: String) = fileBackend(name).copy(
      options = Map("path" -> "/x", "checkpoint" -> ckpt))
    assert(ConfigValidation.validate(EngineConfig(Seq(
      on("a", "/ck/a"), on("b", "/ck/b")))).isEmpty)
    assert(ConfigValidation.validate(EngineConfig(Seq(
      on("a", "/ck/a"), on("b", "file:///ck//a/")))) ==
      Seq("backend checkpoints share one path (/ck/a): a, b"))
    // paths Hadoop cannot parse are compared as written, not thrown on
    assert(ConfigValidation.validate(EngineConfig(Seq(
      on("a", "x:y:/w"), on("b", "x:y:/z")))).isEmpty)
    assert(ConfigValidation.validate(EngineConfig(Seq(
      on("a", "x:y:/z"), on("b", "x:y:/z")))) ==
      Seq("backend checkpoints share one path (x:y:/z): a, b"))
    // one backend's checkpoint spelled as a URI onto another's
    assert(ConfigValidation.validate(EngineConfig(Seq(
      fileBackend("a"), on("b", "file:/ck/a")))) ==
      Seq("backend checkpoints share one path (/ck/a): a, b"))
  }

  test("two file-landing sinks on one path are refused, in one backend " +
      "or across two; other sinks may repeat") {
    def at(kind: String, path: String) = SinkConfig(kind, Map("path" -> path))
    def errs(bs: BackendConfig*) = ConfigValidation.validate(EngineConfig(bs))
    assert(errs(fileBackend("a", at("parquet-exactly-once", "/out/a"),
      at("snapshot", "/out/s"), SinkConfig("console"),
      SinkConfig("console"))).isEmpty)
    assert(errs(fileBackend("a", at("parquet-exactly-once", "/out/a"),
      at("snapshot", "/out/a/"))) ==
      Seq("file-landing sinks share one path (/out/a): " +
        "a/parquet-exactly-once, a/snapshot"))
    assert(errs(fileBackend("a", at("parquet", "/out/p")),
      fileBackend("b", at("parquet", "/out/p"))) ==
      Seq("file-landing sinks share one path (/out/p): a/parquet, b/parquet"))
  }

  /** Validation errors of one file backend with `options` and `sink`. */
  private def fileBackendErrs(options: Map[String, String],
      sink: SinkConfig = SinkConfig("console")): Seq[String] =
    ConfigValidation.validate(EngineConfig(Seq(fileBackend("b", sink)
      .copy(options = options ++ Map("path" -> "/x", "checkpoint" -> "/ck")))))

  // each value below makes `-c` fail where `-t` passed it: the reader's
  // .toInt/.toLong throws, or the value is out of range for its use
  private val notPositive = Seq("ten", "0", "-3", "1.5", "", "99999999999")

  test("a console sink's numRows must be a positive integer") {
    assert(fileBackendErrs(Map.empty,
      SinkConfig("console", Map("numRows" -> "10"))).isEmpty)
    for (v <- notPositive)
      assert(fileBackendErrs(Map.empty,
          SinkConfig("console", Map("numRows" -> v))) ==
        Seq(s"b: console sink option numRows must be a positive integer: $v"),
        v)
  }

  test("a backend's maxFilesPerTrigger must be a positive integer") {
    assert(fileBackendErrs(Map("maxFilesPerTrigger" -> "4")).isEmpty)
    for (v <- notPositive)
      assert(fileBackendErrs(Map("maxFilesPerTrigger" -> v)) ==
        Seq(s"b: backend option maxFilesPerTrigger must be a positive " +
          s"integer: $v"), v)
  }

  test("a backend's txTimeoutMs must be a positive integer") {
    assert(fileBackendErrs(Map("txTimeoutMs" -> "99999999999")).isEmpty,
      "a long timeout is a valid Long")
    for (v <- notPositive.filterNot(_ == "99999999999"))
      assert(fileBackendErrs(Map("txTimeoutMs" -> v)) ==
        Seq(s"b: backend option txTimeoutMs must be a positive integer: $v"),
        v)
  }

  test("full source × wire matrix validates — any wire on any transport") {
    for {
      src <- Seq("file", "kafka")
      wire <- Seq("jsoncdc", "binlog", "oplog")
    } {
      val opts = Map("checkpoint" -> "/ck/b") ++ (
        if (src == "file") Map("path" -> "/x")
        else Map("kafka.bootstrap.servers" -> "h:9092", "subscribe" -> "cdc"))
      val cfg = EngineConfig(Seq(
        BackendConfig("b", options = opts, source = src, wire = wire)))
      assert(ConfigValidation.validate(cfg).isEmpty,
        s"$src × $wire must validate (lapidus.js:88-109 — one worker per " +
          "backend of any type)")
    }
  }

  test("a kafka backend subscribes to exactly one topic") {
    def errs(opts: Map[String, String]) = ConfigValidation.validate(
      EngineConfig(Seq(BackendConfig("k", options = opts ++
        Map("kafka.bootstrap.servers" -> "h:9092", "checkpoint" -> "/ck/k"),
        source = "kafka", wire = "jsoncdc"))))
    assert(errs(Map("subscribe" -> "cdc")).isEmpty)
    for (bad <- Seq(Map("subscribe" -> "a,b"), Map("subscribe" -> " "),
        Map("subscribePattern" -> "cdc.*"), Map("assign" -> "{}"),
        Map.empty[String, String]))
      assert(errs(bad).exists(_.contains("exactly one topic")), s"$bad")
  }

  test("validation rejects unknown source and wire, aggregated") {
    val cfg = EngineConfig(Seq(BackendConfig(
      "b", options = Map("path" -> "/x", "checkpoint" -> "/ck/b"),
      source = "carrier-pigeon", wire = "smoke-signals")))
    val errs = ConfigValidation.validate(cfg)
    assert(errs.exists(_.contains("invalid backend source: carrier-pigeon")))
    assert(errs.exists(_.contains("invalid backend wire format: smoke-signals")))
  }

  test("malformed config JSON throws a /Parse/-matching helpful error " +
      "(config.test.js:8-12), not a raw parser stack") {
    val e = intercept[IllegalArgumentException] {
      graft.cli.Main.parseConfig("""{"invalid":: 'json'}""")
    }
    assert(e.getMessage.contains("Parse"))
  }

  test("CLI config JSON parses source and wire fields") {
    val json =
      """{"backends": [{"name": "my1", "source": "kafka", "wire": "binlog",
        |  "options": {"kafka.bootstrap.servers": "h:9092",
        |              "subscribe": "binlog", "checkpoint": "/ck/my1"}}]}"""
        .stripMargin
    val cfg = graft.cli.Main.parseConfig(json)
    val b = cfg.backends.head
    assert(b.source == "kafka" && b.wire == "binlog")
    assert(ConfigValidation.validate(cfg).isEmpty)
  }

  test("CLI config JSON parses with nested emit flags and sinks") {
    val json =
      """{"backends": [{"name": "pg1", "source": "file", "wire": "jsoncdc",
        |  "options": {"path": "/data/cdc", "checkpoint": "/ck/pg1"},
        |  "excludeTables": ["audit"],
        |  "emit": {"emitEvents": true, "emitSchema": false},
        |  "sinks": [{"kind": "console", "kinds": ["insert", "delete"]}]}]}"""
        .stripMargin
    val cfg = graft.cli.Main.parseConfig(json)
    assert(cfg.backends.size == 1)
    val b = cfg.backends.head
    assert(b.excludeTables == Seq("audit"))
    assert(!b.emit.schema && b.emit.insert)
    assert(b.sinks.map(_.kind) == Seq("console"))
    assert(b.sinks.head.kinds == Seq("insert", "delete"),
      "per-kind sink subscriptions must survive the JSON config parse")
    assert(ConfigValidation.validate(cfg).isEmpty)
  }
}
