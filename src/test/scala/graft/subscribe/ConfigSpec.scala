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
