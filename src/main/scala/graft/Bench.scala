package graft
import org.apache.spark.GraftMetricsBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed sweep of the query inventory. Each selected query runs
  * once untimed at sf0.001 (warm pass), then exactly
  * `SPARK_GRAFT_RUNS` timed samples at the bench scale; the minimum
  * wall time is reported, with the task work (`executorRunTime`) and
  * row volume (input + shuffle-written records) of that same sample.
  * The counters let a same-session A/B (`tools/ab_bench.sh`) tell a
  * code change from host drift: `rows` counts records, not time, and
  * task time follows the work.
  *
  * Writes `bench_last.json` (per query: `queries` seconds, `task_ms`,
  * `rows`; `-1` in all three when every sample failed) and prints one
  * `{"metric":"total",...}` line last on stdout. Reads no file from
  * its working directory.
  *
  * Knobs: SPARK_GRAFT_SF_DIR (the timed scale's tables),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY=q1,q2 (subset run),
  * SPARK_GRAFT_RUNS (samples per query, default 2). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run for local iteration;
    // parsed before the session starts so a misspelt name fails fast.
    val only = Harness.only(SparkEntry.queries.keys)
    val cpus = Harness.cpus
    val spark = Harness.session()
    // noop sink forces full materialization of every operator (count()
    // would let Catalyst prune the work being measured).
    val selected = only.fold(SparkEntry.queries)(
      names => SparkEntry.queries.filter(kv => names(kv._1))).toSeq.sortBy(_._1)
    def untimed(fn: (SparkSession, String) => DataFrame, dir: String): Unit =
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      finally Harness.dropPinnedRdds(spark)
    // /proc/loadavg before/after makes machine contention self-evident in
    // the record: the r03 bench reported 68x "regressions" that were
    // concurrent CPU load, invisible in the artifact itself.
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Untimed steady-state warm-up: run the surface once at the smallest
    // SF so JVM/codegen/shuffle-service startup isn't billed to whichever
    // query happens to run first (codegen caches by generated source, so
    // the sf0.001 pass pre-compiles the same plans the timed pass runs).
    val warmDir = {
      val parent = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent
      Option(parent).map(_.resolve("sf0.001"))
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.toString).getOrElse(sfDir)
    }
    selected.foreach { case (_, fn) => untimed(fn, warmDir) }
    // settle before timing: the warmup pass saturates every core and
    // leaves JIT/GC debt draining on background threads; without a
    // pause the alphabetically-first timed queries (the cdc family)
    // absorb that tail — observed 1.2s isolated vs 14s back-to-back
    // for cdc2_routing, and a fixed 5s stopped sufficing once the
    // surface passed 100 queries (cdc1 33.8s in-run vs 6.5s isolated).
    // Adaptive: GC, then wait until 1-min loadavg falls below the
    // core count (cap 60s — never hang on a busy box; load_before in
    // the record shows what was left).
    System.gc()
    val settleDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (loadavg() > cpus.toDouble && System.nanoTime() < settleDeadline)
      Thread.sleep(2000)
    // one untimed probe of the first timed query at the TIMED scale:
    // whatever per-plan debt the sf0.001 warmup can't reach (row-count
    // -dependent codegen paths, page-cache for the sf0.1 files) lands
    // here instead of inside the first query's timed minimum
    selected.headOption.foreach { case (_, fn) => untimed(fn, sfDir) }
    // min of 2 timed runs per query: single samples on a shared box
    // vary up to 2.5x with CPU contention; the minimum is the standard
    // steady-state estimator (SPARK_GRAFT_RUNS overrides).
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    val loadBefore = loadavg()
    // (wall seconds, task totals) of the minimum-wall sample per query.
    // A failed sample must not contribute its (fast) elapsed time — only
    // successful samples compete for the min; all failed → None.
    val results = selected.map { case (name, fn) =>
      def sample(): Option[(Double, GraftMetricsBridge.TaskTotals)] =
        try {
          var secs = 0.0
          // wall is timed inside the body: taskTotals' wait for the
          // listener bus to drain is bookkeeping, not query time
          val totals = GraftMetricsBridge.taskTotals(spark.sparkContext) {
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            secs = (System.nanoTime() - t0) / 1e9
          }
          Some((secs, totals))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        } finally Harness.dropPinnedRdds(spark)
      name -> (0 until runs).flatMap(_ => sample()).minByOption(_._1)
    }
    val loadAfter = loadavg()
    // Locale.ROOT: the f-interpolator formats with the JVM default
    // locale — a comma-decimal locale (de_DE etc.) would render 12,345
    // and corrupt the JSON the driver parses.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = results.flatMap(_._2.map(_._1)).sum
    def perQuery(v: ((Double, GraftMetricsBridge.TaskTotals)) => String)
        : String = results.map { case (name, best) =>
      "\"" + name + "\":" + best.fold("-1")(v)
    }.mkString("{", ",", "}")
    val head = s""""metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${results.size}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_last.json"),
      (s"""{$head,"full_run":${only.isEmpty},"load_before":$loadBefore,"load_after":$loadAfter,""" +
        s""""queries":${perQuery(b => f3(b._1))},""" +
        s""""task_ms":${perQuery(_._2.timeMs.toString)},""" +
        s""""rows":${perQuery(_._2.rows.toString)}}""" + "\n")
        .getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench_last.json write failed: $e")
    }
    // The compact metric line comes last so a capture of only the
    // output's tail (2000 chars, parsed line by line as JSON) still
    // holds it; per-query detail lives in bench_last.json.
    println(s"""{$head,"load_before":$loadBefore,"load_after":$loadAfter}""")
    spark.stop()
  }
}
