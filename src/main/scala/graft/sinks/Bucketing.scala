package graft.sinks

import org.apache.spark.sql.DataFrame

/** Bucketed warehouse tables — the pre-shuffled layout for joins that
  * recur on the same key (the fact→dim and fact→fact joins every
  * warehouse runs daily).
  *
  * A shuffle on a 100 TB fact table costs more than the join itself;
  * bucketing pays that shuffle ONCE at write time: `bucketBy(n, k)` +
  * `sortBy(k)` persists hash(k)-partitioned, k-sorted files, and every
  * later equi-join or aggregation on k plans with NO exchange on the
  * bucketed side (Spark's FileSourceScanExec reports the bucket spec as
  * its output partitioning). Two tables bucketed to the same n on the
  * join key sort-merge-join with zero shuffles — the plan BucketingSpec
  * pins. (A partition-local sort remains: Spark does not trust sortBy
  * ordering across multiple files per bucket, SPARK-19256 — it streams
  * within the task and costs nothing like the exchange it replaces.)
  *
  * Sizing: pick n so one bucket ≈ 128–512 MB compressed (at 100 TB and
  * 256 MB targets that is ~400k buckets; Spark caps practical n by the
  * shuffle-file count at write, so large tables also PARTITION BY a
  * date column and bucket within partitions). Buckets also bound
  * small-file count: one file per bucket per write, vs one per task.
  */
object Bucketing {

  /** Write `df` as a bucketed, per-bucket-sorted parquet table whose
    * files live at `path` (an external table). `saveAsTable` is
    * required — bucket metadata lives in the catalog, not the files —
    * but the location is the caller's, so nothing lands in
    * `spark.sql.warehouse.dir`. Read it back with `spark.table(table)`:
    * the catalog entry carries the spec, so the scan is bucket-aware and
    * downstream joins/aggs on the bucket key skip their exchange. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, path: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .option("path", path)
      .saveAsTable(table)
}
