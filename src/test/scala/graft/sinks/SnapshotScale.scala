package graft.sinks

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale tool (not a spec): the snapshot sink's per-trigger cost against
  * the size of the table it maintains.
  *
  * Commits a base of `baseRows` keys, then runs `triggers` (default 20)
  * triggers of 200 random updates each, and prints one line per trigger:
  * write ms, bytes the trigger wrote, whether it wrote a base, and the
  * snapshot directory's bytes after it. The sink runs on a
  * foreachBatch-shaped session (shuffle partitions 1, AQE off), as in
  * the daemon; a small warm-up run in the same JVM comes first.
  *
  * Run: sbt "Test/runMain graft.sinks.SnapshotScale 2000000"
  * (SPARK_GRAFT_CPUS sets the core count, SPARK_DRIVER_MEM the heap). */
object SnapshotScale {
  val updatesPerTrigger = 200
  private val temps = new graft.TempDirs

  def main(args: Array[String]): Unit = {
    val baseRows = args(0).toLong
    val triggers = args.lift(1).map(_.toInt).getOrElse(20)
    val root = graft.Harness.session()
    root.sparkContext.setLogLevel("WARN")
    val s = root.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // the warm-up runs past one compaction period (MaxDeltas + 1
    // triggers), so the timed run's first compaction is not the first
    // merge this JVM plans and compiles
    run(s, 20000L, 18, quiet = true)
    println(s"# base rows $baseRows, $triggers triggers of " +
      s"$updatesPerTrigger updates, ${graft.Harness.cpus} cores")
    println("trigger\twrite_ms\tbytes_written\tbase\tdisk_bytes_after")
    run(s, baseRows, triggers, quiet = false)
    root.stop()
  }

  /** Envelope rows as the sink receives them: `n` changes of `kind`
    * to keys `pk(i)`, at seqs `seq0 + i`. */
  private def changes(s: SparkSession, n: Long, seq0: Long, kind: String,
      pk: Column): DataFrame =
    s.range(n).select(lit("t").as("table"), pk.cast("string").as("pk"),
      lit(kind).as("kind"),
      to_json(struct(pk.as("id"), (col("id") + seq0).as("v"))).as("item"),
      (col("id") + seq0).as("seq"))

  private def run(s: SparkSession, baseRows: Long, triggers: Int,
      quiet: Boolean): Unit = {
    val dir = temps.dir("graft-snap-scale")
    val sink = new SnapshotSink(dir)
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
      else f.length
    val rnd = new scala.util.Random(baseRows)
    val t0 = System.nanoTime()
    sink.write(changes(s, baseRows, 0L, "insert", col("id")), 0L)
    if (!quiet) println(f"0\t${(System.nanoTime() - t0) / 1e6}%.0f\t" +
      s"${bytes(new File(VersionedState.path(dir, 0)))}\ttrue\t" +
      s"${bytes(new File(dir))}")
    for (b <- 1 to triggers) {
      val keys = Seq.fill(updatesPerTrigger)(rnd.nextLong(baseRows))
      val batch = changes(s, updatesPerTrigger.toLong,
        baseRows + b * updatesPerTrigger, "update",
        element_at(typedLit(keys), (col("id") + 1).cast("int")))
        .localCheckpoint()
      val start = System.nanoTime()
      sink.write(batch, b.toLong)
      val ms = (System.nanoTime() - start) / 1e6
      val version = new File(VersionedState.path(dir, b))
      if (!quiet) println(f"$b\t$ms%.0f\t${bytes(version)}\t" +
        s"${!new File(version, "_DELTA").exists()}\t${bytes(new File(dir))}")
    }
    if (!quiet) println(s"# current rows ${sink.current(s).count()}")
    temps.deleteAll()
  }
}
