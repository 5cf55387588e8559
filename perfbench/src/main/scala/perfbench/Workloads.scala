package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.json4s._

import graft.{PerfbenchHarness, SparkEntry}
import graft.sinks.SnapshotSink
import graft.streaming.{CdcPipeline, TxAssembly}

object Workloads {

  /** The 14 query modules of `SparkEntry.queries`, each with the names
    * its own `queries` map owns. */
  val modules: Seq[(String, Set[String])] = {
    import graft.{queries => q}
    Seq(
      "Relational" -> q.Relational.queries, "DedupOps" -> q.DedupOps.queries,
      "SimilarityOps" -> q.SimilarityOps.queries, "TextOps" -> q.TextOps.queries,
      "WindowedOps" -> q.WindowedOps.queries, "CdcOps" -> q.CdcOps.queries,
      "SampleOps" -> q.SampleOps.queries, "CurationOps" -> q.CurationOps.queries,
      "SkewOps" -> q.SkewOps.queries, "FunnelOps" -> q.FunnelOps.queries,
      "GraphOps" -> q.GraphOps.queries, "IndexOps" -> q.IndexOps.queries,
      "LayoutOps" -> q.LayoutOps.queries,
      "Multimodal" -> graft.multimodal.Multimodal.queries)
      .map { case (m, qs) => m -> qs.keySet }
  }

  val streamingLayer: Seq[String] = Seq(
    "streaming.triggers", "streaming.trigger_p50_ms", "streaming.trigger_p99_ms",
    "streaming.addBatch_ms", "streaming.queryPlanning_ms", "streaming.walCommit_ms",
    "streaming.commitOffsets_ms", "streaming.latestOffset_ms", "streaming.getBatch_ms",
    "streaming.state.instances", "streaming.state.commit_ms",
    "streaming.state.rows_total", "streaming.state.memory_bytes",
    "streaming.rows_per_trigger", "streaming.tasks_per_trigger",
    "streaming.pipeline_ms_per_kevent", "cdc.decode_ms_per_kevent",
    "cdc.drain_events_per_s", "cdc.drain_local1_events_per_s",
    "sinks.parquet-exactly-once.write_ms", "sinks.snapshot.write_ms",
    "sinks.bytes_written_per_kevent", "sinks.snapshot.rows",
    "gen.late_ms", "gen.files_left_behind", "gen.events")

  val queriesLayer: Seq[String] =
    modules.map { case (m, _) => s"queries.$m.wall_s" } ++ Seq(
      "queries.sweep_s", "queries.build_s", "queries.run_s",
      "queries.under_500ms", "queries.pinned_rdds")

  val runtimeLayer: Seq[String] = Seq("plans.planning_s", "spark.jobs",
    "spark.tasks", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb")

  val memoryLayer: Seq[String] = Seq("mem.heap_live_peak_mb",
    "mem.outside_heap_peak_mb", "mem.heap_committed_peak_mb", "mem.rss_hwm_mb")

  /** The bounded end-to-end metrics. Latency is bounded by its mean:
    * the batch sample is 14 queries, whose median moves with a single
    * transient slowdown; the median and p99 go into the record. */
  val endToEnd: Seq[String] = Seq("setup_s", "latency_mean_ms", "mem_peak_mb")

  /** Per-layer metrics every traced run reports; a layer a workload does
    * not run reads 0 there. `traced.*` are the traced run's own
    * end-to-end figures, to set against an untraced run's. */
  val perLayer: Seq[String] = streamingLayer ++ queriesLayer ++ runtimeLayer ++
    memoryLayer ++ endToEnd.map("traced." + _)

  /** Nearest-rank percentile of a sorted sample. */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))

  /** Median, midway between the middle two of an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median, mean and 99th percentile of a latency sample in ms. */
  def latency(ms: Seq[Double]): Map[String, Double] = Map(
    "latency_p50_ms" -> median(ms),
    "latency_mean_ms" -> (if (ms.isEmpty) 0.0 else ms.sum / ms.size),
    "latency_p99_ms" -> pct(ms.sorted, 0.99))

  /** Process start, on the nanoTime clock. */
  def jvmStartNs: Long = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
  }

  def confBasis(spark: SparkSession): JObject = {
    val c = spark.conf
    def get(k: String, d: String) = JString(c.getOption(k).getOrElse(d))
    JObject(
      "master" -> JString(spark.sparkContext.master),
      "default_parallelism" -> JInt(spark.sparkContext.defaultParallelism),
      "shuffle_partitions" -> get("spark.sql.shuffle.partitions", "200"),
      "state_store_provider" -> get("spark.sql.streaming.stateStore.providerClass", ""),
      "adaptive" -> get("spark.sql.adaptive.enabled", ""),
      "extensions" -> get("spark.sql.extensions", ""),
      "spark_version" -> JString(spark.version),
      "git_commit" -> JString(sys.env.getOrElse("PERFBENCH_COMMIT", "")),
      "sources_sha256" -> JString(sys.env.getOrElse("PERFBENCH_SOURCES", "")))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def waitFor(what: String, deadlineNs: Long)(cond: => Boolean): Unit = {
    while (!cond) {
      if (System.nanoTime() > deadlineNs)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  // ---- streaming per-layer metrics ------------------------------------

  private def streamingMetrics(ps: Seq[StreamingQueryProgress], tasks: Double,
      tracer: Tracer): Map[String, Double] = {
    def phase(k: String) = median(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val trig = ps.map(_.durationMs.get("triggerExecution").doubleValue).sorted
    val st = ps.flatMap(_.stateOperators.headOption)
    def sinkMs(n: String) = median(tracer.all.filter(_.name == s"sinks.$n.write").map(_.ms))
    Map(
      "streaming.triggers" -> ps.size.toDouble,
      "streaming.trigger_p50_ms" -> median(trig),
      "streaming.trigger_p99_ms" -> pct(trig, 0.99),
      "streaming.addBatch_ms" -> phase("addBatch"),
      "streaming.queryPlanning_ms" -> phase("queryPlanning"),
      "streaming.walCommit_ms" -> phase("walCommit"),
      "streaming.commitOffsets_ms" -> phase("commitOffsets"),
      "streaming.latestOffset_ms" -> phase("latestOffset"),
      "streaming.getBatch_ms" -> phase("getBatch"),
      "streaming.state.instances" -> st.map(_.numStateStoreInstances.toDouble).maxOption.getOrElse(0.0),
      "streaming.state.commit_ms" -> median(st.map(_.commitTimeMs.toDouble)),
      "streaming.state.rows_total" -> st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state.memory_bytes" -> st.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "streaming.rows_per_trigger" -> median(ps.map(_.numInputRows.toDouble)),
      "streaming.tasks_per_trigger" -> tasks / math.max(1, ps.size),
      "sinks.parquet-exactly-once.write_ms" -> sinkMs("parquet-exactly-once"),
      "sinks.snapshot.write_ms" -> sinkMs("snapshot"))
  }

  /** Isolated batch calls of the decode and pipeline layers on the
    * run's own capture: ms per thousand lines, median of three. */
  private def layerCalls(spark: SparkSession, ctx: Ctx, capture: Path,
      exclude: Seq[String]): Map[String, Double] = {
    val n = Cdc.lines(spark, capture).count().toDouble / 1000.0
    def timed(name: String)(body: => Unit): Double = median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.span(name)(body)
      (System.nanoTime() - t0) / 1e6
    })
    val decode = timed("cdc.decodeToEvents")(
      noop(TxAssembly.decodeToEvents(Cdc.lines(spark, capture), exclude).toDF()))
    val events = TxAssembly.decodeToEvents(Cdc.lines(spark, capture), exclude).cache()
    events.count()
    val pipeline = timed("streaming.CdcPipeline.run")(
      noop(CdcPipeline.run(events, emitTransaction = true)))
    events.unpersist()
    Map("cdc.decode_ms_per_kevent" -> decode / n,
      "streaming.pipeline_ms_per_kevent" -> pipeline / n)
  }

  // ---- cdc_trickle ----------------------------------------------------

  /** Trickle shape: one capture file per tick, a flush of the change
    * stream, at a rate (about six files per trigger at HEAD's trigger
    * length) well below the file source's 16-files-per-trigger cap, so
    * the run measures latency, not queue growth. */
  val tickMs = 2000L
  val linesPerFile = 200
  val bigTx = 600

  case class FileStamp(firstSeq: Long, lastSeq: Long, lines: Int, dueNs: Long,
      stampNs: Long)

  /** Drains the run's whole capture with a fresh, untraced daemon on
    * `master`: events per second from start to the last sink write. */
  private def drainRate(ctx: Ctx, capture: Path, events: Long,
      master: String): Double = {
    SparkSession.active.stop()
    Cdc.tracer = new Tracer(false)
    Cdc.writes.clear()
    val spark = Cdc.daemonSession(Some(master))
    val tag = master.filter(_.isLetterOrDigit)
    val start = System.nanoTime()
    val (_, q) = Cdc.start(spark, Cdc.configJson(capture, ctx.dir.resolve(s"ckpt-$tag"),
      Seq("parquet-exactly-once" -> ctx.dir.resolve(s"out-$tag"),
        "snapshot" -> ctx.dir.resolve(s"snapshot-$tag"))))
    q.processAllAvailable()
    q.stop()
    events / ((Cdc.writes.asScala.map(_.endNs).max - start) / 1e9)
  }

  def trickle(ctx: Ctx): Result = {
    val t0 = jvmStartNs
    val spark = Cdc.daemonSession()
    val ls = if (ctx.traced) Some(new Listeners(spark)) else None
    val before = ls.map(_.tasks.snapshot)
    val planning0 = ls.map(_.planning.ms.get)
    val cap = new Capture(ctx.seed)
    val capture = ctx.sub("capture"); val staging = ctx.sub("staging")
    val out = ctx.dir.resolve("out"); val snap = ctx.dir.resolve("snapshot")
    val (b, q) = Cdc.start(spark, Cdc.configJson(capture, ctx.dir.resolve("ckpt"),
      Seq("parquet-exactly-once" -> out, "snapshot" -> snap)))
    val stamps = ArrayBuffer.empty[FileStamp]
    def publish(k: Int, ls: Seq[(Long, String)], due: Long): Unit = {
      Capture.publish(staging, capture, f"f-$k%06d.json", cap.render(ls))
      stamps += FileStamp(ls.head._1, ls.last._1, ls.size, due, System.nanoTime())
      ()
    }
    // the daemon's first microbatch is the capture's first file, there
    // before it starts; its commit ends the set-up
    publish(0, cap.streamLines(linesPerFile, bigTx).toSeq, System.nanoTime())
    waitFor("the first committed microbatch", System.nanoTime() + 150L * 1000000000L)(
      Cdc.writes.asScala.count(_.batchId == 0) == b.sinks.size)
    val w0 = Cdc.batchEnds()(0L)
    val setup = (w0 - t0) / 1e9
    // open loop from there on: file k is due k ticks after that commit,
    // however the daemon fares; a last file flushes the open transaction
    val ticks = math.max(1, (ctx.seconds * 1000L / tickMs).toInt)
    val gen = new Thread(() => {
      (1 to ticks).foreach { k =>
        val due = w0 + k * tickMs * 1000000L
        val wait = (due - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        publish(k, cap.streamLines(linesPerFile, bigTx).toSeq, due)
      }
      val rest = cap.flush()
      if (rest.nonEmpty) publish(ticks + 1, rest.toSeq, System.nanoTime())
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    val progress = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      .sortBy(_.batchId).toSeq
    ls.foreach(_.settle())
    val after = ls.map(_.tasks.snapshot)
    val planningMs = ls.map(_.planning.ms.get)
    // memory up to here: what the check and a traced run's extra calls
    // below hold is not the daemon's
    val mem = ctx.memory.metrics
    // the check is not measured: it need not pay for 200 partitions
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toString)
    val (failed, parts, seqBatch) = Cdc.check(spark, cap, capture, b, out, Some(snap))
    spark.conf.unset("spark.sql.shuffle.partitions")
    val ends = Cdc.batchEnds()
    val batchOf = seqBatch.toMap
    val files = stamps.toSeq
    val expected = cap.expectedSeqs.toArray
    // each event waits from its file's stamp until its batch's last sink
    // write returns; the scheduled files after set-up are the sample
    val lat = files.slice(1, ticks + 1).flatMap { f =>
      val lo = java.util.Arrays.binarySearch(expected, f.firstSeq)
      val evs = expected.drop(if (lo >= 0) lo else -lo - 1).takeWhile(_ <= f.lastSeq)
      evs.flatMap(s => batchOf.get(s).flatMap(ends.get)).map(e => (e - f.stampNs) / 1e6)
    }
    // the batch that read each file, from the batches' input row counts:
    // the source reads files whole and in publish order
    val readRows = progress.map(_.batchId).zip(progress.scanLeft(0L)(_ + _.numInputRows).tail)
    val readBy = files.scanLeft(0L)(_ + _.lines).tail.map(n =>
      readRows.find(_._2 >= n).map(_._1).getOrElse(Long.MaxValue))
    // batch j + 1 lists the capture after batch j's last sink write has
    // returned: a file published before that and read by a later batch was
    // left unread by a trigger, so the daemon fell behind the open loop
    val leftBehind = files.zip(readBy).count { case (f, r) =>
      ends.exists { case (j, end) => end > f.stampNs && r > j + 1 } }
    if (leftBehind > 0) System.err.println("[perfbench] WARNING: the unread " +
      s"capture backlog grew: $leftBehind files were left unread by a trigger")
    val m = latency(lat) ++ mem ++ Map(
      "setup_s" -> setup,
      "gen.late_ms" -> files.slice(1, ticks + 1).map(f => (f.stampNs - f.dueNs) / 1e6).max,
      "gen.files_left_behind" -> leftBehind.toDouble,
      "gen.events" -> cap.lines.toDouble)
    val info = Map(
      "basis" -> confBasis(spark),
      "checks" -> JObject(parts.toList.map { case (k, v) => k -> JLong(v) }),
      "latency_samples" -> JInt(lat.size), "files" -> JInt(files.size),
      "triggers" -> JArray(progress.toList.map(p => JObject(
        "batch" -> JLong(p.batchId), "start" -> JString(p.timestamp),
        "ms" -> JLong(p.durationMs.get("triggerExecution")),
        "rows" -> JLong(p.numInputRows)))),
      "read_by_batch" -> JArray(readBy.toList.map(JLong(_))),
      "backlog_grew" -> JBool(leftBehind > 0))
    val traced = ls.map { l =>
      val rt = l.runtime(before.get, after.get)
      val kevents = cap.lines / 1000.0
      val layer = streamingMetrics(l.progress.triggers, rt("spark.tasks"), ctx.tracer) ++ rt ++
        Map("sinks.bytes_written_per_kevent" -> (after.get("written") - before.get("written")) / kevents,
          "sinks.snapshot.rows" -> new SnapshotSink(snap.toString).current(spark).count().toDouble,
          "plans.planning_s" -> (planningMs.get - planning0.get) / 1e3) ++
        layerCalls(spark, ctx, capture, b.excludeTables)
      // the same capture drained by a fresh daemon, then single-threaded
      layer ++ Map(
        "cdc.drain_events_per_s" -> ctx.tracer.span("cdc.drain")(
          drainRate(ctx, capture, cap.lines, "local[*]")),
        "cdc.drain_local1_events_per_s" -> ctx.tracer.span("cdc.drain_local1")(
          drainRate(ctx, capture, cap.lines, "local[1]")))
    }.getOrElse(Map.empty)
    Result(m ++ traced, cap.lines, failed, info)
  }

  // ---- batch_sweep ----------------------------------------------------

  /** The timed slice of the inventory: each module's median-cost query
    * by the repo's recorded per-query times (bench_last.json, 8 cpus), so
    * every module is in it, its cost is not picked by hand, and like the
    * whole inventory about half of it runs under 0.5 s. Fixed, so every
    * seed times the same work; the seed only orders it. */
  val sweep: Seq[String] = Seq(
    "cdc8_ivm", "q27c_near_decontam", "q22_dedup_lines", "q30_retention",
    "q44_triangles", "q43_index", "q45_bucketed_join", "q25c_patchify",
    "q08_join_multiway", "q26_weighted", "q23_ivfpq", "q28c_cms_freq",
    "q24_quantiles_err", "s01_tumbling")

  /** Order-free result fingerprint, gathered while the result is written:
    * row count and the sum of each row's hash (map columns, which Spark
    * does not hash, as JSON). */
  private def observed(df: DataFrame, ob: Observation): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    df.observe(ob, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string").as("hash"))
  }

  /** The batch basis: local[nproc] with as many shuffle partitions. */
  def batchSession(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder().appName("perfbench-batch")
      .master(s"local[$n]").config("spark.sql.shuffle.partitions", n.toString)
    SparkEntry.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  case class QueryRun(name: String, build: Double, run: Double, pinned: Int,
      rows: Long, hash: String) {
    def wall: Double = build + run
  }

  def batch(ctx: Ctx): Result = {
    val t0 = jvmStartNs
    val spark = batchSession()
    val fns = SparkEntry.queries
    val rowsOnly = fns.keySet -- SparkEntry.oracleSql.keySet
    val want: Map[String, (Long, String)] =
      Files.readAllLines(ctx.fingerprints).asScala.toSeq
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
        .map(a => a(0) -> ((a(1).toLong, a(2)))).toMap
    // untimed warm pass over the same tables: the JIT, the code generator
    // and the file metadata are warm before anything is timed
    new scala.util.Random(ctx.seed).shuffle(sweep).foreach { n =>
      try noop(fns(n)(spark, ctx.data)) finally PerfbenchHarness.dropPinnedRdds(spark)
    }
    val setup = (System.nanoTime() - t0) / 1e9
    val ls = if (ctx.traced) Some(new Listeners(spark)) else None
    val before = ls.map(_.tasks.snapshot)
    // whole passes while another fits in the run's seconds, at least one
    val timed = ArrayBuffer.empty[QueryRun]
    val timedStart = System.nanoTime()
    def spent = (System.nanoTime() - timedStart) / 1e9
    var passes = 0
    while (passes == 0 || spent * (passes + 1) / passes <= ctx.seconds) {
      passes += 1
      timed ++= new scala.util.Random(ctx.seed * 31 + passes).shuffle(sweep).map { n =>
        ctx.tracer.span(s"query.$n") {
          val ob = new Observation(n)
          val a = System.nanoTime()
          val df = ctx.tracer.span("queries.build")(fns(n)(spark, ctx.data))
          val b = System.nanoTime()
          ctx.tracer.span("queries.run")(noop(observed(df, ob)))
          val c = System.nanoTime()
          val m = ob.get
          // what the query pinned (its localCheckpoints) is dropped, so the
          // next query does not pay for it in memory
          val pinned = spark.sparkContext.getPersistentRDDs.size
          PerfbenchHarness.dropPinnedRdds(spark)
          QueryRun(n, (b - a) / 1e9, (c - b) / 1e9, pinned,
            m("rows").asInstanceOf[Long], String.valueOf(m("hash")))
        }
      }
    }
    ls.foreach(_.settle())
    val planningMs = ls.map(_.planning.ms.get)
    val mem = ctx.memory.metrics
    val runs = timed.toSeq
    val wrong = runs.filter { r =>
      want.get(r.name).forall { case (rows, h) =>
        r.rows != rows || (!rowsOnly(r.name) && r.hash != h) }
    }
    wrong.map(_.name).distinct.foreach(n => System.err.println(
      s"[perfbench] $n: result fingerprint differs from the recorded one"))
    val per = runs.groupBy(_.name).map { case (n, rs) => n -> QueryRun(n,
      median(rs.map(_.build)), median(rs.map(_.run)), rs.head.pinned, rs.head.rows, rs.head.hash) }
    val samples = runs.map(_.wall * 1000.0).sorted
    val m = latency(samples) ++ mem + ("setup_s" -> setup)
    val traced = ls.map { l =>
      val owner = modules.flatMap { case (mod, qs) => qs.map(_ -> mod) }.toMap
      modules.map { case (mod, _) =>
        s"queries.$mod.wall_s" -> per.values.filter(r => owner(r.name) == mod).map(_.wall).sum
      }.toMap ++ Map(
        "queries.sweep_s" -> per.values.map(_.wall).sum,
        "queries.build_s" -> per.values.map(_.build).sum,
        "queries.run_s" -> per.values.map(_.run).sum,
        "queries.under_500ms" -> per.values.count(_.wall < 0.5).toDouble,
        "queries.pinned_rdds" -> per.values.map(_.pinned).sum.toDouble,
        "plans.planning_s" -> planningMs.get / 1e3 / passes) ++
        l.runtime(before.get, l.tasks.snapshot).map { case (k, v) => k -> v / passes }
    }.getOrElse(Map.empty)
    Result(m ++ traced, runs.size, wrong.size, Map(
      "basis" -> confBasis(spark), "passes" -> JInt(passes),
      "queries" -> JObject(per.toList.sortBy(_._1).map { case (n, r) =>
        n -> JObject("wall_s" -> JDouble(r.wall), "build_s" -> JDouble(r.build),
          "run_s" -> JDouble(r.run), "pinned_rdds" -> JInt(r.pinned),
          "rows" -> JLong(r.rows), "fingerprint" -> JString(r.hash)) }),
      "wrong" -> JArray(wrong.map(_.name).distinct.toList.map(JString(_)))))
  }
}
