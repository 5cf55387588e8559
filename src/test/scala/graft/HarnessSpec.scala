package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The two session profiles, pinned as literal maps, and the source
  * scan that keeps every session coming from them: a main or a spec
  * that builds its own session drifts (a different default thread
  * count, a missing required conf) without any other test noticing. */
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
}
