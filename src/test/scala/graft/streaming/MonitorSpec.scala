package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** O5 (stderr classifier) + O23 (health ping) — classifier table mirrored
  * from the reference's stdErrorToEvent (postgresql.js:192-229).
  */
class MonitorSpec extends SparkSpec {

  test("classifier maps pg_recvlogical diagnostics by prefix") {
    def kindOf(s: String) = StreamDiagnostics.classify(s).map(_._1)
    assert(kindOf("could not connect to server") == Some("error"))
    assert(kindOf("unrecognized option") == Some("error"))
    assert(kindOf("unexpected termination") == Some("error"))
    assert(kindOf("select() failed") == Some("error"))
    assert(kindOf("connected to server") == Some("status"))
    assert(kindOf("starting log streaming") == Some("status"))
    assert(kindOf("disconnected; waiting to retry") == Some("disconnected"))
    assert(kindOf("streaming initiated") == Some("status"))
    assert(kindOf("streaming header too small") == Some("error"))
    assert(kindOf("server log noise falls through") == None)
    assert(kindOf("") == None)
  }

  test("listener records per-query progress and termination health") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val logs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new GraftQueryListener(s => { logs.add(s); () })
    spark.streams.addListener(listener)
    val name = s"mon_${System.nanoTime()}"
    try {
      val mem = MemoryStream[Long]
      val q = mem.toDF.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      q.stop()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 15000
      def snap() = listener.health.find(_.name == name)
      while (System.currentTimeMillis() < deadline &&
          !snap().exists(h => h.rows >= 3 && !h.connected))
        Thread.sleep(100)
      val h = snap().get
      assert(h.batches >= 1)
      assert(h.rows >= 3)
      assert(!h.connected, "terminated query must report disconnected")
      assert(logs.stream().anyMatch(_.contains("rows=")))
    } finally spark.streams.removeListener(listener)
  }

  /** `body`'s result, with a listener attached that logs into a queue. */
  private def listening[T](
      body: (GraftQueryListener, java.util.Queue[String]) => T): T = {
    val logs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new GraftQueryListener(s => { logs.add(s); () })
    spark.streams.addListener(listener)
    try body(listener, logs) finally spark.streams.removeListener(listener)
  }

  /** The first of `logs` to start with `prefix`, waited for up to 15 s:
    * listener events are delivered asynchronously. */
  private def awaitLine(logs: java.util.Queue[String], prefix: String)
      : String = {
    val deadline = System.currentTimeMillis() + 15000
    def found() = logs.asScala.find(_.startsWith(prefix))
    while (System.currentTimeMillis() < deadline && found().isEmpty)
      Thread.sleep(100)
    found().getOrElse(fail(
      s"no line starting '$prefix' in:\n${logs.asScala.mkString("\n")}"))
  }

  test("an unnamed query's start line names it by its id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    listening { (listener, logs) =>
      val q = MemoryStream[Long].toDF.writeStream.format("console").start()
      q.stop()
      awaitLine(logs, s"[graft] query ${q.id} (${q.id}) started")
      assert(listener.health.exists(_.name == q.id.toString))
    }
  }

  test("cli.Main names each backend's query after its backend, and the " +
      "start line says so") {
    import spark.implicits._
    val dir = tempDir("graft-mon-named")
    Seq((0L, """{"begin": 1}"""),
        (1L, """{"commit": 1, "t": "2024-01-01 00:00:00"}"""))
      .map { case (seq, line) => ("pg7", seq, line) }
      .toDF("backend", "seq", "line").coalesce(1).write.json(s"$dir/in")
    val b = graft.subscribe.BackendConfig("pg7", "file", "jsoncdc",
      Map("path" -> s"$dir/in", "checkpoint" -> s"$dir/ckpt"),
      sinks = Seq(graft.subscribe.SinkConfig("parquet-exactly-once",
        Map("path" -> s"$dir/out"))))
    listening { (_, logs) =>
      val q = graft.cli.Main.startBackend(spark, b)
      try q.processAllAvailable() finally q.stop()
      assert(q.name == "pg7")
      awaitLine(logs, s"[graft] query pg7 (${q.id}) started")
    }
  }

  test("each trigger's line carries its addBatch ms, state-store " +
      "instances and state commit ms, as its progress reports them") {
    // and its latestOffset, walCommit and commitOffsets ms likewise
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val name = s"monstate_${System.nanoTime()}"
    listening { (_, logs) =>
      val mem = MemoryStream[Long]
      // stateful: one store per shuffle partition (the test session's 4)
      val q = mem.toDF.groupBy("value").count().writeStream.format("memory")
        .queryName(name).outputMode("update").start()
      try {
        mem.addData(1L, 2L, 2L)
        q.processAllAvailable()
      } finally q.stop()
      // a trigger that finds no data yet reports an idle batch 0 first
      val p = q.recentProgress.find(p =>
        p.batchId == 0L && p.numInputRows > 0).get
      val line =
        awaitLine(logs, s"[graft] $name batch=0 rows=${p.numInputRows} ")
      val fields = line.split(" ").flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
      for (phase <- Seq("latestOffset", "addBatch", "walCommit",
          "commitOffsets")) {
        assert(p.durationMs.containsKey(phase), phase)
        assert(fields(s"${phase}Ms") == p.durationMs.get(phase).toString,
          phase)
      }
      assert(fields("stateStores") == "4")
      assert(p.stateOperators.map(_.numStateStoreInstances).sum == 4)
      assert(fields("stateCommitMs") ==
        p.stateOperators.map(_.commitTimeMs).sum.toString)
    }
  }
}
