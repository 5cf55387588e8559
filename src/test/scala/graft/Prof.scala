package graft

/** Scratch profiling entry (test scope only): time one query with or
  * without the planner extensions, print the executed plan head.
  * Usage: Test/runMain graft.Prof <queryName> <sfDir> [noext]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val noExt = args.contains("noext")
    val spark = Harness.session(Harness.conf(32)
      .filterNot { case (k, _) => noExt && k == "spark.sql.extensions" })
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        // `stages` arg: print EVERY stage with its task count and input
        // records — the scan-parallelism diagnostic (a single-row-group
        // parquet file caps the scan stage at one effective task)
        if (ms > 500 || args.contains("stages"))
          println(s"[prof-stage] id=${si.stageId} tasks=${si.numTasks} " +
            s"wall=${ms}ms inRecords=${si.taskMetrics.inputMetrics.recordsRead} " +
            s"name=${si.name.take(90)}")
      }
    })
    if (name == "_decode_rate") {
      // controlled decode-throughput measurement: constant jsoncdc lines,
      // no synthesis cost, 32-way parallel
      import org.apache.spark.sql.functions._
      val n = 2000000L
      val lines = spark.range(n).repartition(32)
        .select(col("id").as("seq"), concat(lit("""{"insert": {"id": """),
          col("id"), lit(""", "status": "F"}, "table": "orders"}"""))
          .as("line"))
      lines.write.format("noop").mode("overwrite").save() // warm codegen
      val t = System.nanoTime()
      graft.cdc.JsonCdc.decode(lines)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t) / 1e9
      println(f"[prof] decode rate: ${n / secs}%.0f lines/s " +
        f"($n%d lines in $secs%.1fs, 32 threads)")
      val t2 = System.nanoTime()
      lines.write.format("noop").mode("overwrite").save()
      println(f"[prof] synthesis-only rate: ${n / ((System.nanoTime() - t2) / 1e9)}%.0f lines/s")
      // isolate: one from_json(struct) with raw-string subtrees
      val oneParse = lines.select(from_json(col("line"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("insert",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("table",
            org.apache.spark.sql.types.StringType)))).as("p"))
      oneParse.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      oneParse.write.format("noop").mode("overwrite").save()
      println(f"[prof] single from_json rate: ${n / ((System.nanoTime() - t3) / 1e9)}%.0f lines/s")
      // isolate: map-type parse (the pk path)
      val mapParse = lines.select(from_json(col("line"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)).as("m"))
      mapParse.write.format("noop").mode("overwrite").save()
      val t4 = System.nanoTime()
      mapParse.write.format("noop").mode("overwrite").save()
      println(f"[prof] map from_json rate: ${n / ((System.nanoTime() - t4) / 1e9)}%.0f lines/s")
      spark.stop()
      return
    }
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[prof] $name noext=$noExt run1: ${(System.nanoTime() - t0) / 1e9}%.1fs")
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[prof] $name noext=$noExt run2: ${(System.nanoTime() - t1) / 1e9}%.1fs")
    println("[prof] plan contains TopKPerKey: " +
      df.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    if (args.contains("plan")) println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
