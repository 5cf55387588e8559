package graft.subscribe

import org.scalatest.funsuite.AnyFunSuite

/** Config + cascade semantics mirrored from the reference's module tests
  * (/root/reference/test/postgresql.test.js:101-211 — flag cascade incl.
  * "don't overwrite customized child") and config tests
  * (/root/reference/test/config.test.js:8-50 — helpful aggregate errors).
  */
class ConfigSpec extends AnyFunSuite {

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
      name = "b1", kind = "oracle",
      sinks = Seq(SinkConfig("carrier-pigeon")))))
    val errs = ConfigValidation.validate(cfg)
    assert(errs.exists(_.contains("invalid backend type: oracle")))
    assert(errs.exists(_.contains("invalid plugin: carrier-pigeon")))
    assert(errs.size == 2, "errors aggregate instead of failing fast")
  }

  test("sink kind subscriptions validate against the envelope kinds") {
    val bad = EngineConfig(Seq(BackendConfig(
      name = "b1", kind = "file-ldjson", options = Map("path" -> "/x"),
      sinks = Seq(SinkConfig("collect", kinds = Seq("insert", "upsert"))))))
    val errs = ConfigValidation.validate(bad)
    assert(errs == Seq("b1: invalid event kind for plugin collect: upsert"))
    val ok = bad.copy(backends = bad.backends.map(b => b.copy(
      sinks = Seq(SinkConfig("collect", kinds = Seq("insert", "update"))))))
    assert(ConfigValidation.validate(ok).isEmpty)
  }

  test("file-ldjson backend requires a path") {
    val cfg = EngineConfig(Seq(BackendConfig(name = "b", kind = "file-ldjson")))
    assert(ConfigValidation.validate(cfg)
      .exists(_.contains("requires options.path")))
  }

  test("legacy fused kinds resolve onto the source × wire axes") {
    val expect = Map(
      "file-ldjson" -> ("file", "jsoncdc"),
      "kafka" -> ("kafka", "jsoncdc"),
      "file-binlog-json" -> ("file", "binlog"),
      "file-oplog-json" -> ("file", "oplog"))
    expect.foreach { case (kind, (src, wire)) =>
      val b = BackendConfig("b", kind, Map("path" -> "/x"))
      assert(b.resolvedSource == src, s"$kind source")
      assert(b.resolvedWire == wire, s"$kind wire")
    }
  }

  test("a file-landing sink requires options.path") {
    def errs(sink: SinkConfig) = ConfigValidation.validate(EngineConfig(Seq(
      BackendConfig("b", kind = "file-ldjson", options = Map("path" -> "/x"),
        sinks = Seq(sink)))))
    for (kind <- Seq("parquet", "parquet-exactly-once", "snapshot")) {
      assert(errs(SinkConfig(kind, Map("path" -> "/out"))).isEmpty, kind)
      for (opts <- Seq(Map.empty[String, String], Map("path" -> " ")))
        assert(errs(SinkConfig(kind, opts)) ==
          Seq(s"b: $kind sink requires options.path"), s"$kind $opts")
    }
    assert(errs(SinkConfig("console")).isEmpty)
  }

  private def fileBackend(name: String, sinks: SinkConfig*) =
    BackendConfig(name, kind = "file-ldjson", options = Map("path" -> "/x"),
      sinks = sinks)

  test("two backends with one name are refused: they would share a " +
      "checkpoint") {
    val errs = ConfigValidation.validate(EngineConfig(Seq(
      fileBackend("pg1"), fileBackend("pg2"), fileBackend("pg1"))))
    assert(errs == Seq("duplicate backend name: pg1",
      "backend checkpoints share one path (/tmp/graft-ckpt-pg1): pg1, pg1"))
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
      on("a", ""), on("b", "x:y:/z")))).isEmpty)
    // an explicit checkpoint onto another backend's derived one
    assert(ConfigValidation.validate(EngineConfig(Seq(
      fileBackend("a"), on("b", "/tmp/graft-ckpt-a")))) ==
      Seq("backend checkpoints share one path (/tmp/graft-ckpt-a): a, b"))
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
    ConfigValidation.validate(EngineConfig(Seq(BackendConfig("b",
      kind = "file-ldjson", options = options + ("path" -> "/x"),
      sinks = Seq(sink)))))

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
      val opts = if (src == "file") Map("path" -> "/x")
                 else Map("kafka.bootstrap.servers" -> "h:9092",
                          "subscribe" -> "cdc")
      val cfg = EngineConfig(Seq(
        BackendConfig("b", options = opts, source = src, wire = wire)))
      assert(ConfigValidation.validate(cfg).isEmpty,
        s"$src × $wire must validate (lapidus.js:88-109 — one worker per " +
          "backend of any type)")
    }
  }

  test("a kafka backend subscribes to exactly one topic") {
    def errs(opts: Map[String, String]) = ConfigValidation.validate(
      EngineConfig(Seq(BackendConfig("k", options =
        opts + ("kafka.bootstrap.servers" -> "h:9092"),
        source = "kafka", wire = "jsoncdc"))))
    assert(errs(Map("subscribe" -> "cdc")).isEmpty)
    for (bad <- Seq(Map("subscribe" -> "a,b"), Map("subscribe" -> " "),
        Map("subscribePattern" -> "cdc.*"), Map("assign" -> "{}"),
        Map.empty[String, String]))
      assert(errs(bad).exists(_.contains("exactly one topic")), s"$bad")
  }

  test("explicit wire field beats the legacy kafka options escape hatch") {
    val b = BackendConfig("b", "kafka",
      Map("wire" -> "oplog"))
    assert(b.resolvedWire == "oplog", "options.wire read when field empty")
    val c = b.copy(wire = "binlog")
    assert(c.resolvedWire == "binlog", "explicit field wins")
  }

  test("validation rejects unknown source and wire, aggregated") {
    val cfg = EngineConfig(Seq(BackendConfig(
      "b", options = Map("path" -> "/x"), source = "carrier-pigeon",
      wire = "smoke-signals")))
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
        |              "subscribe": "binlog"}}]}""".stripMargin
    val cfg = graft.cli.Main.parseConfig(json)
    val b = cfg.backends.head
    assert(b.resolvedSource == "kafka" && b.resolvedWire == "binlog")
    assert(ConfigValidation.validate(cfg).isEmpty)
  }

  test("CLI config JSON parses with nested emit flags and sinks") {
    val json =
      """{"backends": [{"name": "pg1", "kind": "file-ldjson",
        |  "options": {"path": "/tmp/x"}, "excludeTables": ["audit"],
        |  "emit": {"emitEvents": true, "emitSchema": false},
        |  "sinks": [{"kind": "collect", "kinds": ["insert", "delete"]}]}]}""".stripMargin
    val cfg = graft.cli.Main.parseConfig(json)
    assert(cfg.backends.size == 1)
    val b = cfg.backends.head
    assert(b.excludeTables == Seq("audit"))
    assert(!b.emit.schema && b.emit.insert)
    assert(b.sinks.map(_.kind) == Seq("collect"))
    assert(b.sinks.head.kinds == Seq("insert", "delete"),
      "per-kind sink subscriptions must survive the JSON config parse")
    assert(ConfigValidation.validate(cfg).isEmpty)
  }

  test("options.wire is inert for file kinds (kafka-only escape hatch)") {
    val b = BackendConfig(name = "f1", kind = "file-ldjson",
      options = Map("path" -> "/x", "wire" -> "binlog"))
    assert(b.resolvedWire == "jsoncdc",
      "a stray options.wire must not change a file backend's decoder")
    val k = BackendConfig(name = "k1", kind = "kafka",
      options = Map("wire" -> "binlog"))
    assert(k.resolvedWire == "binlog", "the kafka escape hatch still works")
    // new-axes config (kind="") with wire via options: no fused kind
    // binds the wire, so the escape hatch must apply there too
    val n = BackendConfig(name = "n1",
      options = Map("path" -> "/x", "wire" -> "binlog"), source = "file")
    assert(n.resolvedWire == "binlog",
      "options.wire must resolve for kind=\"\" new-axes configs")
    assert(ConfigValidation.validate(EngineConfig(Seq(n))).isEmpty,
      "a source + options.wire config must validate")
  }
}
