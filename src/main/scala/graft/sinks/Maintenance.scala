package graft.sinks

import org.apache.spark.sql.SparkSession

/** Table maintenance for the parquet sinks: a streaming sink appending a
  * file (or several) per microbatch accretes thousands of small files —
  * at warehouse scale the file-listing and per-file open costs come to
  * dominate every scan long before data volume does. Compaction rewrites
  * a directory into ⌈bytes / targetFileBytes⌉ files.
  *
  * Hive-partitioned layouts (ParquetSink's partitionBy) compact leaf by
  * leaf, preserving the directory scheme — a whole-root rewrite would
  * flatten the partition columns back into the files and destroy
  * pruning.
  *
  * Crash story (local filesystem): the compacted copy builds in a
  * sibling `.compacting` directory and swaps in via two renames. A crash
  * between the renames leaves the data in `<dir>.old` and nothing at the
  * published path; the next compact() call (or recover()) detects that
  * state and rolls the original back before proceeding, so the window
  * where readers see an absent directory lasts until the next
  * maintenance run, and no committed data is ever lost. On an object
  * store, renames are neither atomic nor cheap — swap via a manifest
  * there. Run compaction between streaming restarts or on partitions no
  * longer receiving appends (the natural cadence for hive-partitioned
  * CDC output: compact yesterday's partitions). */
object Maintenance {

  /** Rewrite `dir` (or each of its hive-partition leaves) to
    * ~targetFileBytes files. Returns (before, after) data-file counts
    * summed over leaves. */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    recover(dir)
    val d = new java.io.File(dir)
    sweepCrashLeftovers(d)
    // `.old` / `.compacting` siblings are compaction state, never
    // partitions — without the exclusion a crash leftover would be
    // compacted as data and read back as a bogus partition value
    val partitionDirs = Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.contains("=")
        && !f.getName.endsWith(".old") && !f.getName.endsWith(".compacting"))
    if (partitionDirs.nonEmpty) {
      val results = partitionDirs.map(p =>
        compact(spark, p.toString, targetFileBytes))
      (results.map(_._1).sum, results.map(_._2).sum)
    } else compactLeaf(spark, d, targetFileBytes)
  }

  /** Roll back a crash between compactLeaf's two renames: the published
    * path is missing but its `.old` sibling exists. Idempotent. */
  def recover(dir: String): Unit = {
    val d = new java.io.File(dir)
    val old = new java.io.File(d.getParentFile, d.getName + ".old")
    if (!d.exists() && old.exists()) {
      if (!old.renameTo(d))
        throw new java.io.IOException(s"cannot roll back $old to $d")
    }
  }

  /** Heal crash leftovers among `d`'s children before compacting them:
    * a missing leaf whose `.old` sibling survives (crash between the two
    * renames) is rolled back; a stale `.old` beside a live leaf (crash
    * after swap-in, before cleanup) and any orphan `.compacting` copy
    * (never the only copy of its data) are deleted. Without this sweep,
    * a crashed LEAF was never recovered — recover() only inspects the
    * dir it is handed, and the recursion visits only dirs that still
    * exist. */
  private def sweepCrashLeftovers(d: java.io.File): Unit = {
    val children = Option(d.listFiles()).toSeq.flatten.filter(_.isDirectory)
    for (c <- children if c.getName.endsWith(".old")) {
      val base = new java.io.File(d, c.getName.stripSuffix(".old"))
      if (!base.exists()) {
        if (!c.renameTo(base))
          throw new java.io.IOException(s"cannot roll back $c to $base")
      } else VersionedState.deleteRecursively(c)
    }
    for (c <- children if c.getName.endsWith(".compacting"))
      VersionedState.deleteRecursively(c)
  }

  private def compactLeaf(spark: SparkSession, d: java.io.File,
      targetFileBytes: Long): (Int, Int) = {
    def dataFiles(f: java.io.File) =
      Option(f.listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = dataFiles(d)
    if (before.isEmpty) return (0, 0) // nothing to compact (or not a leaf)
    val totalBytes = before.map(_.length()).sum
    val nFiles = math.max(1, math.ceil(
      totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = new java.io.File(d.getParentFile, d.getName + ".compacting")
    spark.read.parquet(d.toString).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // carry sidecar files (VersionedState's commit markers) across the
    // swap — losing a marker would make a compacted version invisible
    // to committed()/current()
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.endsWith(".parquet")
        && !new java.io.File(tmp, f.getName).exists())
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        new java.io.File(tmp, f.getName).toPath))
    val old = new java.io.File(d.getParentFile, d.getName + ".old")
    // leftover from a previous crash-after-swap
    VersionedState.deleteRecursively(old)
    if (!d.renameTo(old))
      throw new java.io.IOException(s"cannot swap out $d")
    if (!tmp.renameTo(d)) {
      old.renameTo(d) // roll back
      throw new java.io.IOException(s"cannot swap in $tmp")
    }
    VersionedState.deleteRecursively(old)
    (before.size, dataFiles(d).size)
  }
}
