package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.{SinkRegistry, VersionedState}
import graft.subscribe.SinkConfig

/** Scale tool (not a spec): the per-batch cost of the two writers whose
  * directories grow with every trigger, against the trigger count — the
  * dedup loop (`DedupStream.processBatch`, whose index reads cover every
  * earlier batch) and the `parquet` sink kind.
  *
  * Runs `batches` (default 100) batches of `docs` (default 20) documents
  * through each, one document in five an exact copy of an earlier one
  * and one in five a one-word edit, then prints one line per batch (dedup
  * ms, parquet ms) and, for each window of 10 batches ending at 10, 100
  * and 500, the median ms of its batches. A 20-batch warm-up runs first
  * in the same JVM.
  *
  * Run: sbt "Test/runMain graft.streaming.DedupScale 500"
  * (SPARK_GRAFT_CPUS sets the core count, SPARK_DRIVER_MEM the heap). */
object DedupScale {
  def main(args: Array[String]): Unit = {
    val batches = args.lift(0).map(_.toInt).getOrElse(100)
    val docs = args.lift(1).map(_.toInt).getOrElse(20)
    val s = graft.Harness.session()
    s.sparkContext.setLogLevel("WARN")
    run(s, 20, docs, quiet = true)
    println(s"# $batches batches of $docs docs, ${graft.Harness.cpus} cores")
    println("batch\tdedup_ms\tparquet_ms")
    val ms = run(s, batches, docs, quiet = false)
    Seq(10, 100, 500).filter(_ <= batches).foreach { end =>
      def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      val w = ms.slice(end - 10, end)
      println(f"# batches ${end - 9}-$end median: dedup " +
        f"${median(w.map(_._1))}%.0f ms, parquet ${median(w.map(_._2))}%.0f ms")
    }
    s.stop()
  }

  private val words = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu"

  /** Batch `b`'s documents: ids b·docs + i, texts of 16 seeded words. */
  private def batch(s: SparkSession, b: Int, docs: Int): DataFrame = {
    import s.implicits._
    val w = words.split(" ")
    def text(id: Long) = {
      val rnd = new scala.util.Random(id)
      Seq.fill(16)(w(rnd.nextInt(w.length))).mkString(" ")
    }
    (0 until docs).map { i =>
      val id = b.toLong * docs + i
      val earlier = (id * 7919) % math.max(1L, b.toLong * docs)
      id -> (i % 5 match {
        case 0 if b > 0 => text(earlier)
        case 1 if b > 0 => text(earlier).replaceFirst("\\w+$", "omega")
        case _ => text(id)
      })
    }.toDF("doc_id", "text")
  }

  private def run(s: SparkSession, batches: Int, docs: Int,
      quiet: Boolean): Seq[(Double, Double)] = {
    val dir = Files.createTempDirectory("graft-dedup-scale").toFile
    val sink = SinkRegistry.create(SinkConfig("parquet",
      Map("path" -> s"$dir/landing")))
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e6
    }
    val ms = (0 until batches).map { b =>
      val in = batch(s, b, docs).localCheckpoint()
      val dedup = timed(DedupStream.processBatch(in, b.toLong, s"$dir/index"))
      val parquet = timed(sink.write(in, b.toLong))
      if (!quiet) println(f"$b\t$dedup%.0f\t$parquet%.0f")
      (dedup, parquet)
    }
    VersionedState.deleteRecursively(dir)
    ms
  }
}
