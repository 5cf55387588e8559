package graft.sinks

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.cdc.JsonCdc

/** Shared executor-visible bus: SubjectRoutingSink publishes from
  * foreachPartition, so the collector must be reachable as a static
  * singleton (same JVM in local mode), not a serialized closure capture. */
object SinksSpec {
  val bus = new ConcurrentLinkedQueue[(String, String)]()
}

/** Subject routing + fan-out semantics mirrored from the reference's NATS
  * plugin (/root/reference/src/plugins/nats.js:12-29).
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def envelopes = JsonCdc.decode(Seq(
    (0L, """{"insert": {"id": 5, "x": "a"}, "table": "users"}"""),
    (1L, """{"update": {"id": 5, "x": "b"}, "table": "users"}"""),
    (2L, """{"delete": true, "@": {"id": 5}, "table": "users"}"""),
    (3L, """{"begin": 9}"""))
    .toDF("seq", "line").withColumn("backend", lit("pg1")))

  private def drainBus(): Seq[(String, String)] = {
    val out = SinksSpec.bus.asScala.toSeq
    SinksSpec.bus.clear()
    out
  }

  test("subjects are schema.table.pk; cache-bus verbs map per kind") {
    SinksSpec.bus.clear()
    val sink = new SubjectRoutingSink(
      () => (s, p) => { SinksSpec.bus.add((s, p)); () },
      schemaName = "public", cachePrefix = Some("cache"))
    sink.write(envelopes, 0L)
    val published = drainBus()
    val subjects = published.map(_._1).toSet
    assert(subjects.contains("public.users.5"))
    assert(subjects.contains("cache.populate.public.users.5"))
    assert(subjects.contains("cache.invalidate.public.users.5"))
    assert(subjects.contains("cache.purge.public.users.5"))
    // begin line (no DML) publishes nothing
    assert(published.size == 6)
  }

  test("payload carries the event envelope as JSON") {
    SinksSpec.bus.clear()
    val sink = new SubjectRoutingSink(
      () => (s, p) => { SinksSpec.bus.add((s, p)); () })
    sink.write(envelopes, 0L)
    val published = drainBus()
    val insertPayload = published.find(_._2.contains("insert")).get._2
    assert(insertPayload.contains("\"table\":\"users\""))
    assert(insertPayload.contains("\"pk\":\"5\""))
  }

  test("registry resolves kinds and rejects unknown plugins") {
    import graft.subscribe.SinkConfig
    assert(SinkRegistry.create(SinkConfig("collect")).name == "collect")
    intercept[IllegalArgumentException] {
      SinkRegistry.create(SinkConfig("nope"))
    }
  }

  test("a kind-scoped sink sees only its subscribed kinds " +
      "(per-kind callback registry, postgresql.js:99-122)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.subscribe.{EmitFlags, SinkConfig}
    implicit val sqlCtx = spark.sqlContext

    // registry plumbs SinkConfig.kinds onto the created sink
    val resolved = SinkRegistry.create(SinkConfig("collect", kinds = Seq("insert")))
    assert(resolved.kinds == Seq("insert"))

    val insertOnly = new CollectingSink
    val everything = new CollectingSink
    val mem = MemoryStream[(String, String, Long)]
    val q = SinkRegistry.attach(
        mem.toDF.toDF("kind", "pk", "seq"),
        EmitFlags(emitEvent = Some(false)),
        Seq(new KindScopedSink(insertOnly, Seq("insert")), everything))
      .start()
    try {
      mem.addData(("insert", "1", 0L), ("update", "1", 1L),
        ("delete", "1", 2L), ("insert", "2", 3L))
      q.processAllAvailable()
    } finally q.stop()
    assert(insertOnly.collected.map(_.getString(0)).toSet == Set("insert"),
      "insert-only sink must never see updates or deletes")
    assert(insertOnly.collected.size == 2)
    assert(everything.collected.size == 4,
      "an unscoped sink on the same attach still sees every kind")
  }

  test("collecting sink gathers rows across batches") {
    val sink = new CollectingSink
    sink.write(envelopes.filter($"kind" === "insert"), 0L)
    sink.write(envelopes.filter($"kind" === "update"), 1L)
    assert(sink.collected.size == 2)
  }

  test("parquet sink lays out hive partitions when partitionBy is set") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-psink").toString
    val sink = SinkRegistry.create(graft.subscribe.SinkConfig("parquet",
      Map("path" -> dir, "partitionBy" -> "table,kind")))
    sink.write(envelopes, 0L)
    val tableDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(tableDirs.exists(_.startsWith("table=")),
      s"expected hive-style table= dirs, got $tableDirs")
    // partition-pruned read returns exactly that table's rows
    val users = spark.read.parquet(dir).filter($"table" === "users")
    assert(users.count() == envelopes.filter($"table" === "users").count())
    // and the predicate lands as a PARTITION filter — directory-level
    // pruning, not a data filter over every file (the whole point of
    // the layout at 100 TB)
    val plan = users.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(table") ||
      plan.contains("PartitionFilters: [(table"),
      s"table= predicate must prune directories, not scan rows:\n$plan")
  }

  test("exactly-once parquet sink: batch replay is a no-op, uncommitted " +
      "batches stay invisible") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-eo-sink").toString
    val sink = SinkRegistry.create(graft.subscribe.SinkConfig(
      "parquet-exactly-once", Map("path" -> dir)))
    val batch = envelopes.filter($"kind" === "insert")
    sink.write(batch, 0L)
    // crash-replay: foreachBatch re-delivers the SAME batch id
    sink.write(batch, 0L)
    sink.write(envelopes.filter($"kind" === "update"), 1L)
    // a torn write: batch dir exists but was never committed
    val torn = new java.io.File(s"$dir/batch=2")
    envelopes.filter($"kind" === "delete").write.parquet(torn.toString)
    val landed = IdempotentParquetSink.committed(spark, dir)
    assert(landed.count() == 2,
      "one insert + one update; the replayed batch must not duplicate " +
        "and the uncommitted batch must not surface")
    assert(landed.select("kind").as[String].collect().toSet ==
      Set("insert", "update"))
  }

  test("snapshot sink maintains current state across microbatches, " +
      "survives batch replay, and versions are time-travelable") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-snap-sink").toString
    val sink = new SnapshotSink(dir)
    def env(ls: Seq[(Long, String)]) =
      JsonCdc.decode(ls.toDF("seq", "line"))
    val b0 = env(Seq(
      (0L, """{"insert": {"id": 1, "v": "a"}, "table": "t"}"""),
      (1L, """{"insert": {"id": 2, "v": "b"}, "table": "t"}""")))
    val b1 = env(Seq(
      (2L, """{"update": {"id": 1, "v": "a2"}, "table": "t"}"""),
      (3L, """{"delete": true, "@": {"id": 2}, "table": "t"}""")))
    sink.write(b0, 0L)
    sink.write(b1, 1L)
    sink.write(b1, 1L) // crash replay of the same batch id: no-op
    val cur = sink.current(spark)
      .select("pk", "item").as[(String, String)].collect().toMap
    assert(cur.keySet == Set("1"), "id 2 was deleted")
    assert(cur("1").contains("a2"), "id 1 carries the updated image")
    // time travel: version=0 still holds the pre-update state
    val v0 = spark.read.parquet(s"$dir/version=0")
      .select("pk").as[String].collect().toSet
    assert(v0 == Set("1", "2"))
  }

  test("snapshot merge runs on the previous version's scan partitions: " +
      "several for a version split by maxPartitionBytes, one for a tiny " +
      "one, each with one exchange") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // a foreachBatch session of a stateful stream: AQE off and the
    // query's one state partition as the shuffle width. A session of its
    // own, so the shared one's maxPartitionBytes is never touched.
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def env(ls: Seq[(Long, String)]) =
      JsonCdc.decode(s.createDataFrame(ls).toDF("seq", "line"))
    def ins(id: Int, v: String) =
      s"""{"insert": {"id": $id, "v": "$v"}, "table": "t"}"""
    def parts(dir: String, v: Int) =
      new java.io.File(s"$dir/version=$v").listFiles()
        .count(_.getName.endsWith(".parquet"))

    val big = Files.createTempDirectory("graft-snap-wide").toString
    val b0 = (0 until 3000).map(i => (i.toLong, ins(i, s"value-$i")))
    val b1 = Seq((3000L, ins(7, "changed")),
      (3001L, """{"delete": true, "@": {"id": 8}, "table": "t"}"""))
    val sink = new SnapshotSink(big)
    sink.write(env(b0), 0L)
    assert(parts(big, 0) == 1)
    val v0 = new java.io.File(s"$big/version=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    s.conf.set("spark.sql.files.maxPartitionBytes", (v0 / 4).toString)
    val width = s.read.parquet(s"$big/version=0").rdd.getNumPartitions
    assert(width >= 4)
    val merge = graft.cdc.SnapshotApply.advance(
      s.read.parquet(s"$big/version=0"),
      graft.cdc.SnapshotApply.normalize(env(b1)))
    assert(merge.queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e }.size == 1,
      "the aggregate reuses the merge's partitioning")
    sink.write(env(b1), 1L)
    assert(parts(big, 1) == width, "one merge partition per scan partition")
    val want = graft.cdc.SnapshotApply.snapshot(
      graft.cdc.SnapshotApply.normalize(env(b0 ++ b1)))
    val got = sink.current(s).select(want.columns.map(col).toIndexedSeq: _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    s.conf.unset("spark.sql.files.maxPartitionBytes")
    val tiny = Files.createTempDirectory("graft-snap-narrow").toString
    val small = new SnapshotSink(tiny)
    small.write(env(Seq((0L, ins(1, "a")), (1L, ins(2, "b")))), 0L)
    small.write(env(Seq((2L, ins(3, "c")), (3L, ins(4, "d")))), 1L)
    assert(parts(tiny, 1) == 1)
    assert(small.current(s).count() == 4)
  }

  test("vacuum keeps the newest versions and never the torn ones") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-vacuum").toString
    val sink = new SnapshotSink(dir)
    def env(ls: Seq[(Long, String)]) =
      JsonCdc.decode(ls.toDF("seq", "line"))
    for (b <- 0 until 4)
      sink.write(env(Seq((b.toLong,
        s"""{"insert": {"id": $b, "v": "x"}, "table": "t"}"""))), b.toLong)
    val dropped = sink.vacuum(keepLast = 2)
    assert(dropped == Seq("version=0", "version=1"))
    assert(sink.current(spark).count() == 4,
      "latest version still holds all 4 accumulated rows")
  }

  test("compaction rewrites many small files into few, same data") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-compact").resolve("t").toString
    // 16 tiny appends = 16+ files
    for (i <- 0 until 16)
      Seq((i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    val beforeData = spark.read.parquet(dir)
      .as[(Long, String)].collect().toSet
    val (before, after) = Maintenance.compact(spark, dir)
    assert(before >= 16 && after == 1,
      s"expected 16+ -> 1 files, got $before -> $after")
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet
      == beforeData, "compaction must not change the data")
  }

  test("compaction preserves hive partition layout and commit markers") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-compact-part").resolve("t").toString
    for (i <- 0 until 6)
      Seq((i.toLong, s"t${i % 2}", s"v$i")).toDF("id", "table", "v")
        .coalesce(1).write.partitionBy("table").mode("append").parquet(root)
    new java.io.File(s"$root/table=t0/_COMMITTED").createNewFile()
    val beforeData = spark.read.parquet(root)
      .as[(Long, String, String)].collect().toSet
    val (before, after) = Maintenance.compact(spark, root)
    assert(before >= 6 && after == 2, s"one file per partition leaf; got $before -> $after")
    assert(new java.io.File(s"$root/table=t0").isDirectory &&
      new java.io.File(s"$root/table=t1").isDirectory,
      "partition directories must survive compaction")
    assert(new java.io.File(s"$root/table=t0/_COMMITTED").exists(),
      "commit markers must ride across the swap")
    assert(spark.read.parquet(root).as[(Long, String, String)]
      .collect().toSet == beforeData)
  }

  test("compaction heals crashed partition leaves instead of reading " +
      "them as bogus partitions") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-compact-crash").resolve("t").toString
    for (i <- 0 until 4)
      Seq((i.toLong, s"t${i % 2}", s"v$i")).toDF("id", "table", "v")
        .coalesce(1).write.partitionBy("table").mode("append").parquet(root)
    val beforeData = spark.read.parquet(root)
      .as[(Long, String, String)].collect().toSet
    // crash state A (between the two renames): leaf t0 swapped out but
    // the compacted copy never swapped in
    val t0 = new java.io.File(s"$root/table=t0")
    assert(t0.renameTo(new java.io.File(s"$root/table=t0.old")))
    // crash state B (before swap-out): an orphan .compacting copy of t1
    val t1c = new java.io.File(s"$root/table=t1.compacting")
    Seq((99L, "stale")).toDF("id", "v")
      .coalesce(1).write.parquet(t1c.toString)
    val (_, after) = Maintenance.compact(spark, root)
    assert(after == 2, s"both leaves compacted, got $after files")
    assert(new java.io.File(s"$root/table=t0").isDirectory,
      "crashed leaf must be rolled back")
    assert(!new java.io.File(s"$root/table=t0.old").exists() && !t1c.exists(),
      "crash leftovers must be swept")
    assert(spark.read.parquet(root).as[(Long, String, String)]
      .collect().toSet == beforeData,
      "healed table must hold exactly the pre-crash rows")
  }
}
