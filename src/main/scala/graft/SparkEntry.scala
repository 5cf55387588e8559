package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{queries => q}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared operator inventory (SURVEY.md §2.4);
  * every entry with an `oracleSql` twin is hash-compared against DuckDB
  * on the sf0.01 test data. Entries without oracle SQL get a rows-only
  * check (approximate / sketch-based operators whose exact output is not
  * SQL-expressible).
  */
object SparkEntry {

  /** Session config every entry point needs:
    *   - nanosAsLong: older generations of events.parquet store
    *     TIMESTAMP(NANOS) which Spark cannot represent; with this set we
    *     read the raw long and manage precision explicitly. Harmless on
    *     the current TIMESTAMP(MICROS) fixture — Tables.events handles
    *     both generations.
    *   - the `file:` filesystem, for `FileSystem` and `FileContext`
    *     alike: `graft.fs.NioLocalFileSystem`/`NioLocalFs`, Hadoop's
    *     checksummed local filesystem without the `chmod`/`readlink`
    *     process it starts per created file and per link-status lookup
    *     when the native hadoop library is missing (about 70 per
    *     streaming trigger). Hadoop's `FileSystem` cache keeps the class
    *     of the first `file:` access in the JVM, so a `file:`
    *     `FileSystem` cached before the first session keeps the stock
    *     class: slower, not wrong.
    */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // native kernels for SQL users + the per-key top-k plan rewrite
    // (graft.plans.TopKPerKey); queries stay correct without it
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.hadoop.fs.file.impl" -> "graft.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.fs.NioLocalFs")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q.Relational.q08_join_multiway(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    q.Relational.queries ++ q.DedupOps.queries ++ q.SimilarityOps.queries ++
      q.TextOps.queries ++ q.WindowedOps.queries ++ q.CdcOps.queries ++
      q.SampleOps.queries ++ q.CurationOps.queries ++ q.SkewOps.queries ++
      q.FunnelOps.queries ++ q.GraphOps.queries ++ q.IndexOps.queries ++
      q.LayoutOps.queries ++ graft.multimodal.Multimodal.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (sketch/LSH-based operators get the driver's rows-only check). */
  def oracleSql: Map[String, String] =
    q.Relational.oracles ++ q.DedupOps.oracles ++ q.SimilarityOps.oracles ++
      q.TextOps.oracles ++ q.WindowedOps.oracles ++ q.CdcOps.oracles ++
      q.SampleOps.oracles ++ q.CurationOps.oracles ++ q.SkewOps.oracles ++
      q.FunnelOps.oracles ++ q.GraphOps.oracles ++ q.IndexOps.oracles ++
      q.LayoutOps.oracles ++ graft.multimodal.Multimodal.oracles

  /** MEASURED NUMERIC ERROR of the four rows-only sketch/codec entries
    * (the oracle engine cannot replay their kernels, so their driver
    * check is rows-only by documented design — InventorySpec pins the
    * list). Each key maps to (documented error bound, measurement):
    * Verify dumps the measured values beside oracle_sql.json as
    * `approx_err.json`, and tools/check.py fails when a measurement
    * exceeds its bound — so the round artifact carries the certified
    * error, not just row counts. The `*_err` / `*_roundtrip` sibling
    * entries additionally turn the same bounds into hash-green driver
    * checks (the oracle asserts the literal `true` the bound implies). */
  def approxErrors: Map[String, (Double, (SparkSession, String) => Double)] =
    Map(
      // HLL rsd 0.02 → 0.05 is 2.5σ of headroom
      "q04b_approx_distinct" -> ((0.05, q.Relational.q04bMaxRelErr _)),
      // Datasketches lgK 14 → rel err ~0.8%; same 5% certification
      "q04c_hll_sketches" -> ((0.05, q.Relational.q04cMaxRelErr _)),
      // GK rank guarantee ε = 1e-4 plus the ±1-row discrete slack,
      // as a fraction of the smallest per-language cohort (~50 docs
      // at sf0.001) → 0.02 certifies "within one row of exact"
      "q24_quantiles_approx" ->
        ((0.02, q.TextOps.q24QuantilesMaxRankErr _)),
      // deflate/inflate roundtrip must be lossless corpus-wide
      "q24_compress" -> ((0.0, q.TextOps.q24CompressFailFrac _)))
}
