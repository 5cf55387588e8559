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

  test("each trigger's line carries its addBatch ms, state-store " +
      "instances and state commit ms, as its progress reports them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val logs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new GraftQueryListener(s => { logs.add(s); () })
    spark.streams.addListener(listener)
    val name = s"monstate_${System.nanoTime()}"
    try {
      val mem = MemoryStream[Long]
      // stateful: one store per shuffle partition (the test session's 4)
      val q = mem.toDF.groupBy("value").count().writeStream.format("memory")
        .queryName(name).outputMode("update").start()
      try {
        mem.addData(1L, 2L, 2L)
        q.processAllAvailable()
      } finally q.stop()
      val p = q.recentProgress.find(_.batchId == 0L).get
      val line = s"[graft] $name batch=0 "
      val deadline = System.currentTimeMillis() + 15000
      def found() = logs.asScala.find(_.startsWith(line))
      while (System.currentTimeMillis() < deadline && found().isEmpty)
        Thread.sleep(100)
      val fields = found().get.split(" ").flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
      assert(fields("addBatchMs") == p.durationMs.get("addBatch").toString)
      assert(fields("stateStores") == "4")
      assert(p.stateOperators.map(_.numStateStoreInstances).sum == 4)
      assert(fields("stateCommitMs") ==
        p.stateOperators.map(_.commitTimeMs).sum.toString)
    } finally spark.streams.removeListener(listener)
  }
}
