package graft

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for declared queries to files — the
  * optimization-round evidence artifact (plans/r14/<name>_before.txt /
  * _after.txt). Plain-java friendly (tools/run_main.sh) so a dump never
  * holds the sbt lock.
  *
  *   tools/run_main.sh graft.PlanDump plans/r14 before q19l_ks q41d_kcore
  *
  * With no names, dumps every declared query. It runs on Harness's
  * offline session, the one Bench times, so the dumped plan is the one
  * the bench actually runs, modulo AQE runtime re-optimization.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [names...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Files.createDirectories(outDir)
    val selected =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.map(n => n -> SparkEntry.queries(n))
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      } finally Harness.dropPinnedRdds(spark)
    }
    spark.stop()
  }
}
