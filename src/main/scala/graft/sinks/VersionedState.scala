package graft.sinks

import java.io.File
import java.nio.file.{Files, LinkOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch-id-VERSIONED parquet tables — the one foreachBatch crash
  * protocol behind the exactly-once and snapshot sinks and the IVM /
  * SCD2 state loops. Structured Streaming's foreachBatch is
  * at-least-once with a STABLE batch id, so a version keyed by that id
  * makes the replay idempotent.
  *
  *   - Name: version b lives in `<dir>/batch=<b>`.
  *   - Commit: the parquet lands first, then a marker file inside the
  *     directory. The marker needs no atomic rename, so the protocol
  *     carries over to stores without one; these helpers use the local
  *     filesystem, and on an object store the same steps ride the
  *     Hadoop FileSystem API.
  *   - Write: a committed version is never rewritten (a replay is a
  *     no-op); an unmarked, torn directory is overwritten.
  *   - Visibility: `read`, `latest` and `versions` see committed
  *     versions only.
  *   - Tags: a version may carry a tag, an empty file written after
  *     its parquet and before its marker, so a committed version always
  *     has its tag and a torn one counts for nothing. The snapshot sink
  *     tags its delta versions this way (see `SnapshotSink`).
  *   - Retention: `prune(oldest)` deletes every version below `oldest`,
  *     committed or torn; the caller names the oldest version that
  *     versions b−1 and b still read. The state loops, whose every
  *     version is a whole table, pass b−1: a replay of b still finds its
  *     input, and disk holds two versions. The snapshot sink passes the
  *     base that b−1 reads. The exactly-once sink keeps every version.
  *   - Lineage: processing batch b > 0 requires a committed b−1. A
  *     missing predecessor means a checkpoint reset (or a layout this
  *     protocol does not read) against existing state; continuing from
  *     empty state would silently corrupt it. */
private[graft] object VersionedState {

  private val Marker = "_COMMITTED"

  def path(dir: String, batchId: Long): String = s"$dir/batch=$batchId"

  private def committed(dir: String, batchId: Long): Boolean =
    new File(path(dir, batchId), Marker).exists()

  /** Every `batch=` directory's id, committed or torn. */
  private def listed(dir: String): Seq[Long] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .flatMap(_.getName.stripPrefix("batch=").toLongOption)

  /** Committed version ids, ascending. */
  def versions(dir: String): Seq[Long] =
    listed(dir).filter(committed(dir, _)).sorted

  private def committedPath(dir: String, batchId: Long): String = {
    require(committed(dir, batchId),
      s"state version batch=$batchId missing under $dir")
    path(dir, batchId)
  }

  /** Committed version `batchId` under a fixed schema; the empty table
    * before the first batch (`batchId` < 0). */
  def read(spark: SparkSession, dir: String, batchId: Long,
      schema: StructType): DataFrame =
    if (batchId < 0)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else read(spark, dir, Seq(batchId), schema)

  /** Committed versions `batchIds` as one scan under a fixed schema. */
  def read(spark: SparkSession, dir: String, batchIds: Seq[Long],
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(batchIds.map(committedPath(dir, _)): _*)

  /** Latest committed version, or an empty frame before any commit. */
  def latest(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    read(spark, dir, versions(dir).lastOption.getOrElse(-1L), schema)

  /** Land `df` as version `batchId`, tag it with `tag` if given, and
    * commit it. `df` is built only when the version is not committed
    * yet. A tag is a file name Spark's reader skips (leading `_`). */
  def write(df: => DataFrame, dir: String, batchId: Long,
      tag: Option[String] = None): Unit =
    if (!committed(dir, batchId)) {
      df.write.mode("overwrite").parquet(path(dir, batchId))
      tag.foreach(t => new File(path(dir, batchId), t).createNewFile())
      new File(path(dir, batchId), Marker).createNewFile()
      ()
    }

  /** Whether committed version `batchId` carries `tag`. */
  def tagged(dir: String, batchId: Long, tag: String): Boolean =
    new File(committedPath(dir, batchId), tag).exists()

  /** Bytes of committed version `batchId`'s data files. */
  def bytes(dir: String, batchId: Long): Long =
    Option(new File(committedPath(dir, batchId)).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.length).sum

  /** Drop every version below `oldest`, committed or torn. */
  def prune(dir: String, oldest: Long): Unit =
    listed(dir).filter(_ < oldest).foreach(v =>
      deleteRecursively(new File(path(dir, v))))

  def requireLineage(dir: String, batchId: Long, what: String): Unit =
    require(batchId == 0 || committed(dir, batchId - 1),
      s"state version batch=${batchId - 1} missing under $dir — batch-id " +
        s"gap or checkpoint reset; rebuild the $what from a full " +
        "replay instead of silently restarting from empty state")

  /** Delete `f` and, for a directory, everything under it. Symbolic
    * links are removed, never followed. */
  def deleteRecursively(f: File): Unit = {
    if (Files.isDirectory(f.toPath, LinkOption.NOFOLLOW_LINKS))
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
