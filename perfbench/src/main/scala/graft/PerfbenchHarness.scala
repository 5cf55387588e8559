package graft

import org.apache.spark.sql.SparkSession

/** The benchmark's access to the mains' `Harness`, private to `graft`. */
object PerfbenchHarness {
  def dropPinnedRdds(spark: SparkSession): Unit = Harness.dropPinnedRdds(spark)
}
