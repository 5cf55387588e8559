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
    assert(SinkRegistry.create(SinkConfig("console")).name == "console")
    for (kind <- Seq("nope", "collect"))
      intercept[IllegalArgumentException] {
        SinkRegistry.create(SinkConfig(kind))
      }
  }

  test("a kind-scoped sink sees only its subscribed kinds " +
      "(per-kind callback registry, postgresql.js:99-122)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.subscribe.{EmitFlags, SinkConfig}
    implicit val sqlCtx = spark.sqlContext

    // registry plumbs SinkConfig.kinds onto the created sink
    val resolved = SinkRegistry.create(SinkConfig("console", kinds = Seq("insert")))
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
    val dir = tempDir("graft-psink")
    val sink = SinkRegistry.create(graft.subscribe.SinkConfig("parquet",
      Map("path" -> dir, "partitionBy" -> "table,kind")))
    sink.write(envelopes, 0L)
    val tableDirs = new java.io.File(s"$dir/batch=0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(tableDirs.exists(_.startsWith("table=")),
      s"expected hive-style table= dirs, got $tableDirs")
    // partition-pruned read returns exactly that table's rows
    val users = IdempotentParquetSink.committed(spark, dir)
      .filter($"table" === "users")
    assert(users.count() == envelopes.filter($"table" === "users").count())
    // and the predicate lands as a PARTITION filter — directory-level
    // pruning, not a data filter over every file (the whole point of
    // the layout at 100 TB)
    val plan = users.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(table") ||
      plan.contains("PartitionFilters: [(table"),
      s"table= predicate must prune directories, not scan rows:\n$plan")
  }

  test("parquet-exactly-once with partitionBy lands the hive layout " +
      "that parquet lands") {
    def land(kind: String): String = {
      val dir = tempDir(s"graft-$kind")
      SinkRegistry.create(graft.subscribe.SinkConfig(kind,
        Map("path" -> dir, "partitionBy" -> "table,kind"))).write(envelopes, 0L)
      dir
    }
    def layout(dir: String): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(root.relativize(_).toString).toSeq.sorted
      finally walk.close()
    }
    val (parquet, exactlyOnce) = (land("parquet"), land("parquet-exactly-once"))
    assert(layout(exactlyOnce).contains("batch=0/table=users/kind=insert"),
      layout(exactlyOnce))
    assert(layout(exactlyOnce) == layout(parquet))
    def rows(dir: String) = IdempotentParquetSink.committed(spark, dir)
      .select("seq", "table", "kind").as[(Long, String, String)]
      .collect().toSeq.sortBy(_._1)
    assert(rows(exactlyOnce) == rows(parquet))
  }

  test("exactly-once parquet sink: batch replay is a no-op, uncommitted " +
      "batches stay invisible") {
    val dir = tempDir("graft-eo-sink")
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

  test("a parquet landing restarted under a fresh checkpoint fails " +
      "instead of skipping the batch ids it already holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.subscribe.{EmitFlags, SinkConfig}
    implicit val sqlCtx = spark.sqlContext
    val out = tempDir("graft-psink-reset")
    /** One stream under a fresh checkpoint, one batch per `batches`. */
    def run(batches: Seq[String]*): Unit = {
      val mem = MemoryStream[(String, String, Long)]
      val q = SinkRegistry.attach(mem.toDF.toDF("kind", "pk", "seq"),
          EmitFlags(emitEvent = Some(false)),
          Seq(SinkRegistry.create(SinkConfig("parquet", Map("path" -> out)))))
        .option("checkpointLocation",
          tempDir("graft-psink-ckpt"))
        .start()
      try batches.foreach { pks =>
        mem.addData(pks.map(("insert", _, 0L)): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    def landed = IdempotentParquetSink.committed(spark, out)
      .select("pk").as[String].collect().toSet
    run(Seq("1"), Seq("2"))
    assert(landed == Set("1", "2"))
    // the restart's batch 0 lies below the landed batch 1
    val e = intercept[StreamingQueryException](run(Seq("3")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("checkpoint reset")),
      e.getMessage)
    assert(landed == Set("1", "2"), "the failed restart landed nothing")
  }

  test("a landing directory holding another layout's data fails loudly") {
    val dir = tempDir("graft-psink-mixed")
    // an older build's parquet sink appended its files at the root
    envelopes.write.mode("append").parquet(dir)
    val sink = SinkRegistry.create(graft.subscribe.SinkConfig("parquet",
      Map("path" -> dir)))
    val e = intercept[IllegalArgumentException](sink.write(envelopes, 0L))
    assert(e.getMessage.contains("move it aside"), e.getMessage)
    assert(!new java.io.File(s"$dir/batch=0").exists(), "nothing landed")
    intercept[IllegalArgumentException](
      IdempotentParquetSink.committed(spark, dir))
  }

  test("snapshot sink maintains current state across microbatches, " +
      "survives batch replay, and versions are time-travelable") {
    val dir = tempDir("graft-snap-sink")
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
    // time travel: batch=0 still holds the pre-update state
    val v0 = spark.read.parquet(s"$dir/batch=0")
      .select("pk").as[String].collect().toSet
    assert(v0 == Set("1", "2"))
  }

  test("snapshot merges run on the base's scan partitions: several for " +
      "a base split by maxPartitionBytes, one for a tiny one, each with " +
      "one exchange — in the read merge and in a compacting write") {
    import org.apache.spark.sql.DataFrame
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
    def upd(id: Int, v: String) =
      s"""{"update": {"id": $id, "v": "$v"}, "table": "t"}"""
    def parts(dir: String, v: Int) =
      new java.io.File(s"$dir/batch=$v").listFiles()
        .count(_.getName.endsWith(".parquet"))
    def isDelta(dir: String, v: Int) =
      new java.io.File(s"$dir/batch=$v/_DELTA").exists()
    def exchanges(df: DataFrame) = df.queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e }.size

    val big = tempDir("graft-snap-wide")
    val b0 = (0 until 3000).map(i => (i.toLong, ins(i, s"value-$i")))
    val b1 = Seq((3000L, ins(7, "changed")),
      (3001L, """{"delete": true, "@": {"id": 8}, "table": "t"}"""))
    // every row updated: a delta larger than the base
    val b2 = (0 until 3000).map(i => (4000L + i, upd(i, s"value-$i-2")))
    val b3 = Seq((9000L, ins(9, "last")))
    val sink = new SnapshotSink(big)
    sink.write(env(b0), 0L)
    assert(parts(big, 0) == 1)
    val v0 = new java.io.File(s"$big/batch=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    s.conf.set("spark.sql.files.maxPartitionBytes", (v0 / 4).toString)
    val width = s.read.parquet(s"$big/batch=0").rdd.getNumPartitions
    assert(width >= 4)
    val merge = graft.cdc.SnapshotApply.advance(
      s.read.parquet(s"$big/batch=0"),
      graft.cdc.SnapshotApply.normalize(env(b1)))
    assert(exchanges(merge) == 1,
      "the aggregate reuses the merge's partitioning")
    def want(bs: Seq[(Long, String)]*) = graft.cdc.SnapshotApply.snapshot(
      graft.cdc.SnapshotApply.normalize(env(bs.flatten)))
    def same(got: DataFrame, exp: DataFrame) = {
      val g = got.select(exp.columns.map(col).toIndexedSeq: _*)
      g.exceptAll(exp).isEmpty && exp.exceptAll(g).isEmpty
    }

    // the read merge: base 0 plus delta 1
    sink.write(env(b1), 1L)
    assert(isDelta(big, 1))
    val read = sink.current(s)
    assert(exchanges(read) == 1, "the read merge has one exchange")
    assert(read.rdd.getNumPartitions == width,
      "the read merges on the base's scan partitions")
    assert(same(read, want(b0, b1)))

    // a compacting write: deltas 1 and 2 outweigh base 0 and one scan
    // partition, so batch 3 is a base merged on base 0's scan partitions
    sink.write(env(b2), 2L)
    assert(isDelta(big, 2), "delta 1 alone is below the bytes rule")
    sink.write(env(b3), 3L)
    assert(!isDelta(big, 3), "the live deltas passed the bytes rule")
    assert(parts(big, 3) == width, "one merge partition per scan partition")
    assert(same(sink.current(s), want(b0, b1, b2, b3)))
    assert(same(sink.version(s, 2), want(b0, b1, b2)),
      "version 2 still reads base 0 and its deltas")

    s.conf.unset("spark.sql.files.maxPartitionBytes")
    val tiny = tempDir("graft-snap-narrow")
    val small = new SnapshotSink(tiny)
    small.write(env(Seq((0L, ins(1, "a")), (1L, ins(2, "b")))), 0L)
    small.write(env(Seq((2L, ins(3, "c")), (3L, ins(4, "d")))), 1L)
    assert(isDelta(tiny, 1))
    val tinyRead = small.current(s)
    assert(exchanges(tinyRead) == 1 && tinyRead.rdd.getNumPartitions == 1)
    assert(tinyRead.count() == 4)
  }

  test("snapshot retention: a compaction after MaxDeltas deltas; one " +
      "write later only the new base and its delta remain") {
    val dir = tempDir("graft-snap-retain")
    val sink = new SnapshotSink(dir)
    val k = SnapshotSink.MaxDeltas
    def env(ls: Seq[(Long, String)]) =
      JsonCdc.decode(ls.toDF("seq", "line"))
    def put(b: Int) = sink.write(env(Seq((b.toLong,
      s"""{"insert": {"id": $b, "v": "x"}, "table": "t"}"""))), b.toLong)
    def dirs = new java.io.File(dir).list().sorted.toSeq
    def batches(bs: Range) = bs.map(b => s"batch=$b").sorted
    def pks(df: org.apache.spark.sql.DataFrame) =
      df.select("pk").as[String].collect().toSet
    def upTo(b: Int) = (0 to b).map(_.toString).toSet
    def isDelta(b: Int) = new java.io.File(s"$dir/batch=$b/_DELTA").exists()
    (0 to k + 1).foreach(put)
    assert((1 to k).forall(isDelta) && !isDelta(0) && !isDelta(k + 1),
      s"base 0, $k deltas, then a base")
    assert(dirs == batches(0 to k + 1),
      "the compaction keeps what version k reads: two bases, k deltas")
    assert(pks(sink.version(spark, k)) == upTo(k) &&
      pks(sink.current(spark)) == upTo(k + 1))
    put(k + 2)
    assert(dirs == batches(k + 1 to k + 2),
      "every dir older than the base version k + 1 reads is gone")
    assert(pks(sink.version(spark, k + 1)) == upTo(k + 1),
      "the previous version stays readable")
    assert(pks(sink.current(spark)) == upTo(k + 2),
      "the latest version holds every accumulated row")
  }

  test("snapshot sink: a torn version is invisible to current and its " +
      "replay overwrites it") {
    val dir = tempDir("graft-snap-torn")
    val sink = new SnapshotSink(dir)
    def env(ls: Seq[(Long, String)]) =
      JsonCdc.decode(ls.toDF("seq", "line"))
    def pks = sink.current(spark).select("pk").as[String].collect().toSet
    val b1 = env(Seq((1L, """{"insert": {"id": 2, "v": "b"}, "table": "t"}""")))
    sink.write(env(Seq(
      (0L, """{"insert": {"id": 1, "v": "a"}, "table": "t"}"""))), 0L)
    // a crash after the parquet landed, before the commit marker: the
    // directory holds rows no committed version produced
    graft.cdc.SnapshotApply.snapshot(graft.cdc.SnapshotApply.normalize(env(
      Seq((9L, """{"insert": {"id": 99, "v": "z"}, "table": "t"}""")))))
      .write.parquet(s"$dir/batch=1")
    assert(pks == Set("1"))
    sink.write(b1, 1L) // the replay of batch 1
    assert(pks == Set("1", "2"))
  }

  test("snapshot sink: a batch-id gap fails with the lineage message") {
    val dir = tempDir("graft-snap-gap")
    val e = intercept[IllegalArgumentException] {
      new SnapshotSink(dir).write(JsonCdc.decode(Seq(
        (0L, """{"insert": {"id": 1, "v": "a"}, "table": "t"}"""))
        .toDF("seq", "line")), 3L)
    }
    assert(e.getMessage.contains("batch=2 missing") &&
      e.getMessage.contains("checkpoint reset"), e.getMessage)
    assert(new java.io.File(dir).list().isEmpty, "nothing landed")
  }

  test("commit markers are named in VersionedState only") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"$root not found from ${System.getProperty("user.dir")}")
    val marker = "_COMMITTED"
    val naming = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        new String(Files.readAllBytes(p), "UTF-8").contains(marker))
      .map(_.toString).toSeq
    assert(naming == Seq("src/main/scala/graft/sinks/VersionedState.scala"),
      s"commit marker named outside the versioned-state module: $naming")
    // and nothing on the streaming side lands a plain append directory:
    // every write goes through the versioned protocol
    val append = """mode\(\s*("append"|SaveMode\.Append)\s*\)""".r
    val appending = Seq("sinks", "streaming").flatMap(d =>
      Files.walk(root.resolve(s"graft/$d")).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && append.findFirstIn(
          new String(Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(_.toString))
    assert(appending.isEmpty,
      s"append writes outside the versioned protocol: $appending")
  }
}
