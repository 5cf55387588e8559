package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The two session profiles, pinned as literal maps, and the source
  * scan that keeps every session coming from them: a main or a spec
  * that builds its own session drifts (a different default thread
  * count, a missing required conf) without any other test noticing.
  * Likewise for on-disk fixtures: `Harness.fixture`'s write-once
  * contract, and the scan that keeps temp paths, shutdown hooks and
  * catalog tables out of every other main source. */
class HarnessSpec extends AnyFunSuite {

  private val required = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  test("offline profile: local[n], n shuffle partitions, UI off, the " +
      "required confs") {
    for (n <- Seq(1, 4, 32))
      assert(Harness.conf(n) == Map(
        "spark.master" -> s"local[$n]",
        "spark.sql.shuffle.partitions" -> n.toString,
        "spark.ui.enabled" -> "false") ++ required)
  }

  test("CLI profile: the daemon perfbench measures — local[*] unless a " +
      "master is given, the required confs, RocksDB state, no " +
      "shuffle-partition override") {
    val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    assert(Harness.cliConf("graft-cdc", externalMaster = false) == Map(
      "spark.app.name" -> "graft-cdc",
      "spark.master" -> "local[*]") ++ required + rocksDb)
    assert(Harness.cliConf("graft-query", externalMaster = true) == Map(
      "spark.app.name" -> "graft-query") ++ required + rocksDb)
  }

  test("SPARK_GRAFT_ONLY: unset selects everything, a list selects its " +
      "names, a stray or empty list fails naming the problem") {
    val valid = Seq("q01_scan", "q02_filter", "q03_agg")
    assert(Harness.only(valid, None).isEmpty)
    assert(Harness.only(valid, Some(" q01_scan, q02_filter,")) ==
      Some(Set("q01_scan", "q02_filter")))
    val stray = intercept[IllegalArgumentException](
      Harness.only(valid, Some("q01_scan,q01_scna")))
    assert(stray.getMessage.endsWith("entries: q01_scna"))
    intercept[IllegalArgumentException](Harness.only(valid, Some(" , ")))
  }

  private def sources(root: String): Seq[(Path, String)] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir),
      s"$root not found from ${System.getProperty("user.dir")}")
    val out = Seq.newBuilder[(Path, String)]
    Files.walk(dir).forEach { p =>
      if (p.toString.endsWith(".scala"))
        out += p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    }
    out.result()
  }

  test("sessions are built in Harness only: no other main or test " +
      "source calls the session builder") {
    val call = """SparkSession\s*\.\s*builder""".r
    val builders = (sources("src/main/scala") ++ sources("src/test/scala"))
      .collect { case (p, text) if call.findFirstIn(text).isDefined =>
        p.toString }
    assert(builders == Seq(Paths.get("src/main/scala/graft/Harness.scala")
      .toString), s"session builders outside Harness: $builders")
  }

  test("fixture: four threads asking for one (name, dir) at once run the " +
      "writer once and get one path; another dir gets another path") {
    val spark = TestSession.spark
    val writes = new AtomicInteger
    val start = new CountDownLatch(1)
    def ask(dir: String): String = Harness.fixture(spark, "spec-once", dir) {
      p =>
        writes.incrementAndGet()
        assert(!new File(p).exists, s"$p exists before its write")
        Thread.sleep(200) // hold the write open while the others ask
        Files.createDirectories(Paths.get(p, "part"))
    }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val asks = (1 to 4).map(_ => pool.submit(new Callable[String] {
        def call(): String = { start.await(); ask("dir-a") }
      }))
      start.countDown()
      val paths = asks.map(_.get(60, TimeUnit.SECONDS)).toSet
      assert(writes.get == 1 && paths.size == 1, s"$writes writes: $paths")
      assert(new File(paths.head, "part").isDirectory)
      val other = ask("dir-b")
      assert(writes.get == 2 && !paths(other), other)
    } finally pool.shutdown()
  }

  test("fixture: a writer that throws leaves no directory and no cache " +
      "entry, and the next call writes") {
    val spark = TestSession.spark
    var given = Option.empty[String]
    val e = intercept[IllegalStateException](
      Harness.fixture(spark, "spec-fail", "dir") { p =>
        given = Some(p)
        Files.createDirectories(Paths.get(p, "half-written"))
        throw new IllegalStateException("writer failed")
      })
    assert(e.getMessage == "writer failed")
    val root = new File(given.get).getParentFile
    assert(!root.exists, s"$root left behind")
    var writes = 0
    val path = Harness.fixture(spark, "spec-fail", "dir") { p =>
      writes += 1
      Files.createDirectories(Paths.get(p))
    }
    assert(writes == 1 && path != given.get && new File(path).isDirectory)
  }

  test("temp paths, shutdown hooks and catalog tables stay in their one " +
      "place: Harness.fixture, and Bucketing for saveAsTable") {
    val main = sources("src/main/scala")
    def outside(tokens: Seq[String], home: String) = main.collect {
      case (p, text) if p != Paths.get(home) &&
          tokens.exists(text.contains) =>
        s"$p: ${tokens.filter(text.contains).mkString(", ")}"
    }
    val temp = outside(Seq("java.io.tmpdir", "createTempDirectory",
      "createTempFile", "addShutdownHook", "scala.reflect.io.Directory"),
      "src/main/scala/graft/Harness.scala")
    assert(temp.isEmpty, s"on-disk state outside Harness.fixture: $temp")
    val tables = outside(Seq("saveAsTable"),
      "src/main/scala/graft/sinks/Bucketing.scala")
    assert(tables.isEmpty, s"catalog tables outside Bucketing: $tables")
  }
}
