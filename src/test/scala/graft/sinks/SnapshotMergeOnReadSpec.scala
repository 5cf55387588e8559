package graft.sinks

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import graft.SparkSpec
import graft.cdc.{JsonCdc, SnapshotApply}

/** Merge-on-read property: on random jsoncdc streams cut into random
  * microbatches, every committed snapshot version the sink reads equals
  * the full rewrite, `SnapshotApply.snapshot(normalize(every event so
  * far))`, on both sides of each compaction, through a committed replay
  * (a no-op) and through a torn version that its replay overwrites.
  * One property runs enough batches to cross the delta-count rule; the
  * other runs on a session whose tiny `maxPartitionBytes` lets the bytes
  * rule fire first. */
class SnapshotMergeOnReadSpec extends SparkSpec {

  /** A stream: its lines, its batch boundaries (ascending, repeats make
    * empty batches), a replayed batch and a batch first landed torn. */
  case class Run(lines: Vector[String], cuts: Vector[Int], replay: Int,
      torn: Int)

  private val line: Gen[String] = for {
    table <- Gen.oneOf("a", "b")
    id <- Gen.choose(1, 6)
    v <- Gen.alphaNumStr.map(_.take(6))
    kind <- Gen.frequency(4 -> "insert", 4 -> "update", 2 -> "delete",
      1 -> "begin")
  } yield kind match {
    case "delete" => s"""{"delete": true, "@": {"id": $id}, "table": "$table"}"""
    case "begin" => s"""{"begin": $id}"""
    case k => s"""{"$k": {"id": $id, "v": "$v"}, "table": "$table"}"""
  }

  private def runs(batches: Gen[Int]): Gen[Run] = for {
    n <- batches
    size <- Gen.choose(n, 4 * n)
    lines <- Gen.listOfN(size, line)
    cuts <- Gen.listOfN(n - 1, Gen.choose(0, size))
    replay <- Gen.choose(1, n - 1)
    torn <- Gen.choose(1, n - 1)
  } yield Run(lines.toVector, (0 +: cuts.sorted :+ size).toVector, replay,
    torn)

  private def env(s: SparkSession, ls: Seq[(Long, String)]): DataFrame =
    JsonCdc.decode(s.createDataFrame(ls).toDF("seq", "line"))

  private def rows(df: DataFrame): Seq[Row] =
    df.select("table", "pk", "item", "as_of_seq").collect().toSeq
      .sortBy(r => (r.getString(0), r.getString(1)))

  private def isDelta(dir: String, b: Int): Boolean =
    new File(s"$dir/batch=$b/_DELTA").exists()

  private def files(dir: String, b: Int): Seq[String] =
    new File(s"$dir/batch=$b").list().sorted.toSeq

  /** Runs `r` on a fresh sink and checks every version it commits;
    * returns the batches that wrote a base after batch 0. */
  private def play(s: SparkSession, r: Run): Seq[Int] = {
    val dir = tempDir("graft-snap-mor")
    val sink = new SnapshotSink(dir)
    val seqd = r.lines.zipWithIndex.map { case (l, i) => (i.toLong, l) }
    def batch(b: Int) = env(s, seqd.slice(r.cuts(b), r.cuts(b + 1)))
    def want(b: Int) = rows(SnapshotApply.snapshot(SnapshotApply.normalize(
      env(s, seqd.take(r.cuts(b + 1))))))
    def check(b: Int, what: String) =
      assert(rows(sink.version(s, b.toLong)) == want(b),
        s"version $b $what differs from the full rewrite")
    val bases = Seq.newBuilder[Int]
    for (b <- 0 until r.cuts.size - 1) {
      if (b == r.torn) {
        // a crash after the parquet and the tag landed, before the marker
        SnapshotApply.snapshot(SnapshotApply.normalize(env(s,
          Seq((-1L, """{"insert": {"id": 99, "v": "z"}, "table": "a"}""")))))
          .write.parquet(s"$dir/batch=$b")
        new File(s"$dir/batch=$b/_DELTA").createNewFile()
        assert(rows(sink.current(s)) == want(b - 1),
          s"torn version $b is visible")
      }
      sink.write(batch(b), b.toLong)
      check(b, "after its write")
      if (b > 0 && !isDelta(dir, b)) {
        bases += b
        check(b - 1, s"before the compaction at $b")
      }
      if (b == r.replay) {
        val landed = files(dir, b)
        sink.write(batch(b), b.toLong)
        assert(files(dir, b) == landed, s"replay of $b rewrote it")
        check(b, "after its replay")
      }
    }
    val last = r.cuts.size - 2
    val kept = VersionedState.versions(dir)
    assert(kept.count(v => !isDelta(dir, v.toInt)) <= 2 &&
      kept.count(v => isDelta(dir, v.toInt)) <= SnapshotSink.MaxDeltas,
      s"retention keeps at most two bases and MaxDeltas deltas: $kept")
    assert(last == 0 || kept.contains(last - 1L))
    bases.result()
  }

  private def holds(prop: Prop, cases: Int, seed: Long): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(cases)
      .withWorkers(1).withInitialSeed(Seed(seed)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("normalize's and snapshot's columns are the schemas the sink " +
      "reads its versions with") {
    val changes = SnapshotApply.normalize(env(spark,
      Seq((0L, """{"insert": {"id": 1, "v": "a"}, "table": "t"}"""))))
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(shape(changes) ==
      SnapshotApply.changeSchema.map(f => (f.name, f.dataType)))
    assert(shape(SnapshotApply.snapshot(changes)) ==
      SnapshotApply.snapshotSchema.map(f => (f.name, f.dataType)))
  }

  test("every version equals the full rewrite across the delta-count " +
      "compaction, a committed replay and a torn version") {
    val k = SnapshotSink.MaxDeltas
    holds(Prop.forAllNoShrink(runs(Gen.choose(k + 3, k + 6))) { r =>
      val bases = play(spark, r)
      assert(bases.contains(k + 1),
        s"batch ${k + 1} compacts its $k deltas: bases at $bases")
      true
    }, cases = 2, seed = 20261018L)
  }

  test("every version equals the full rewrite when the bytes rule " +
      "compacts before the count rule") {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    holds(Prop.forAllNoShrink(runs(Gen.choose(6, 10))) { r =>
      val bases = play(s, r)
      assert(bases.exists(_ <= SnapshotSink.MaxDeltas),
        "deltas that outweigh their base and one scan partition compact")
      true
    }, cases = 3, seed = 20261019L)
  }
}
