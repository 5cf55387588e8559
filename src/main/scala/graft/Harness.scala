package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the mains, and the one place a `SparkSession` is
  * built. Two profiles:
  *
  *   - offline ([[conf]], [[session]]): Bench, Verify, PlanDump,
  *     ScalingSweep, the data generators and the test session —
  *     `local[cpus]` with as many shuffle partitions, UI off;
  *   - CLI ([[cliConf]], [[cliSession]]): `cli.Main`'s `-q`/`-e` and
  *     `-c` daemon paths — `local[*]` unless a master is given, the
  *     RocksDB state store, the query listener, and no shuffle-partition
  *     setting. perfbench's `cdc_trickle` measures this configuration.
  *     The daemon's state partitions are decided per query in
  *     `CdcStream.forBackend` (one, unless the session sets a count);
  *     a restarted query keeps the count frozen in its checkpoint,
  *     whatever either place says.
  *
  * Both apply `SparkEntry.requiredConfs` at builder time:
  * `spark.sql.extensions` is a static conf.
  *
  * [[fixture]] is the one place a batch query puts files on disk: the
  * synthetic CDC captures, the bucketed tables, the schema generations
  * and the IVF cell layout. Each lands in its own fresh temp directory
  * under `java.io.tmpdir`, written once per JVM and deleted at JVM
  * exit; nothing lands in the working directory. */
private[graft] object Harness {

  /** Worker threads (and shuffle partitions) of the offline profile:
    * SPARK_GRAFT_CPUS, default the contract's 32 capped at the box. The
    * v0 scaffold's "4" silently ran every official bench on 4 threads,
    * and the queries that repartition to shuffle.partitions(=cpus) for
    * pre-shuffle parse parallelism (the CDC family, dedup_ngram) paid
    * 2-3.5x for it — a deficit that looked exactly like a host noise
    * window until a SPARK_GRAFT_CPUS=32 run came back at record. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors))

  /** The offline profile's session conf on `cpus` threads. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false") ++ SparkEntry.requiredConfs

  /** The offline session (or the running one) from `conf`, at log level
    * ERROR: each dropPinnedRdds() emits a (harmless) lineage-truncated
    * WARN per checkpointed RDD — hundreds of lines that would crowd a
    * main's report out of a 2000-char tail capture. Real failures still
    * print through each main's own stderr lines. */
  def session(conf: Map[String, String] = Harness.conf(cpus))
      : SparkSession = {
    val spark = build(conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The CLI profile's session conf. An `externalMaster` (spark-submit,
    * `-Dspark.master`, SPARK_MASTER) is left to Spark; a standalone
    * launch runs `local[*]`. */
  def cliConf(appName: String, externalMaster: Boolean)
      : Map[String, String] = {
    val master =
      if (externalMaster) Map.empty[String, String]
      else Map("spark.master" -> "local[*]")
    Map("spark.app.name" -> appName) ++ master ++ SparkEntry.requiredConfs ++
      Map(
        // RocksDB-backed keyed state (SURVEY §7 risk register): tx/schema
        // state spills off-heap instead of living in executor JVM memory
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  /** The CLI session, with the progress/failure listener (O5/O23)
    * attached for every streaming query it runs. */
  def cliSession(appName: String): SparkSession = {
    val spark = build(cliConf(appName, sys.props.contains("spark.master") ||
      sys.env.contains("SPARK_MASTER")))
    spark.streams.addListener(new graft.streaming.GraftQueryListener())
    spark
  }

  private def build(conf: Map[String, String]): SparkSession = {
    val builder = SparkSession.builder()
    conf.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  /** SPARK_GRAFT_ONLY=q1,q2 (`raw`) as a subset of `valid`, or None when
    * unset. A name outside `valid`, or a list naming nothing, is a loud
    * error rather than a run that silently measures nothing. */
  def only(valid: Iterable[String],
      raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Option[Set[String]] =
    raw.map { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty, "SPARK_GRAFT_ONLY names no entry")
      val stray = names.diff(valid.toSet)
      require(stray.isEmpty, "SPARK_GRAFT_ONLY names not among the " +
        s"selectable entries: ${stray.toSeq.sorted.mkString(", ")}")
      names
    }

  private val fixtureLock = new Object
  @volatile private var fixtures = Map.empty[(String, String), String]
  // reads the map without the lock: a hook waiting on a writer that is
  // still running would hold up JVM exit
  sys.addShutdownHook(fixtures.values.foreach(p =>
    try graft.sinks.VersionedState.deleteRecursively(new File(p).getParentFile)
    catch { case _: Throwable => () }))

  /** The path of fixture `name` for input `dir`, written on first use by
    * `write`, which gets a path that does not exist yet inside a fresh
    * temp directory. One write per (name, dir) and JVM, under one lock;
    * a failed write leaves no directory and caches nothing. Queries read
    * the files back the way a real job reads data another job wrote
    * (a replay reads capture files; the engine never re-synthesizes its
    * input), and the files survive the bench's between-query RDD
    * cleanup.
    *
    * Driver-local files: valid because Bench, Verify and the tests run
    * `local[n]` (driver and executors share a filesystem). A cluster
    * deployment reads real data from shared storage instead. */
  def fixture(spark: SparkSession, name: String, dir: String)(
      write: String => Unit): String = {
    require(spark.sparkContext.isLocal,
      "on-disk fixtures are a local-mode harness construct; on a " +
        "cluster, read real capture files and tables from shared storage")
    fixtureLock.synchronized {
      fixtures.getOrElse((name, dir), {
        val root = Files.createTempDirectory(s"graft-$name-").toFile
        val path = new File(root, name).toString
        try write(path)
        catch { case e: Throwable =>
          graft.sinks.VersionedState.deleteRecursively(root)
          throw e
        }
        fixtures += (name, dir) -> path
        path
      })
    }
  }

  /** Drop leftover localCheckpoint RDDs between queries — across ~90
    * queries the pinned sf-sized snapshots otherwise crowd executor
    * memory and later queries absorb the GC pressure as phantom
    * regressions. Called BETWEEN queries only: every run still pays its
    * own checkpoint cost inside its own clock. */
  def dropPinnedRdds(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
}
