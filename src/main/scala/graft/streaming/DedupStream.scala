package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.queries.DedupOps
import graft.sinks.VersionedState

/** Continuous corpus dedup — the streaming face of Q22's incremental
  * ops: a stream of new documents maintains the very indexes it probes.
  * Per microbatch:
  *
  *   1. EXACT dedup: first occurrence per fingerprint within the batch
  *      (smallest doc_id), then an anti-join against the persisted
  *      fingerprint index — today's crawl never re-hashes the corpus,
  *      only its own rows shuffle (q22_dedup_incremental's argument).
  *   2. NEAR-dup probe: survivors' MinHash bands equi-join the
  *      persisted band index; hits are FLAGGED as candidates with their
  *      best (smallest-id) existing partner — flag, not drop, per Q22's
  *      verify-candidates-only contract (verification wants both docs'
  *      shingles; the index deliberately stores only 8-byte band rows).
  *      In-batch near pairs are the batch ops' job (q22_dedup_minhash on
  *      the day's slice); this op covers new-vs-corpus.
  *   3. LAND: the batch's decisions, and its survivors' fingerprints
  *      and bands, land as version b of the `decisions`, `fp` and
  *      `bands` tables, so the next batch probes today's survivors too.
  *
  * Crash story: the three tables are [[graft.sinks.VersionedState]]
  * tables that keep every version, and batch b probes only the index
  * versions below b. A re-delivered batch therefore recomputes the same
  * rows — it never probes its own survivors — and its writes are no-ops;
  * a torn version is overwritten. Decisions are read through
  * `decisions`, which sees committed versions only.
  *
  * At scale the indexes are the bucketed tables of graft.sinks.Bucketing
  * (bucketed on fp / band_sig), making both probes co-located joins. */
object DedupStream {

  private val fpSchema = StructType(Seq(
    StructField("fp", LongType), StructField("doc_id", LongType)))
  private val bandSchema = StructType(Seq(
    StructField("band", LongType), StructField("band_sig", LongType),
    StructField("doc_id", LongType)))

  /** Every committed decision: (doc_id, near_partner, decision,
    * batch_id). */
  def decisions(spark: SparkSession, indexDir: String): DataFrame =
    VersionedState.readAll(spark, s"$indexDir/decisions")

  /** One microbatch through the index loop. Exposed for tests; `start`
    * wires it into foreachBatch. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      indexDir: String): Unit = {
    val spark = batch.sparkSession
    // the index as of batch b: its committed versions below b
    def index(name: String, schema: StructType): DataFrame =
      VersionedState.read(spark, s"$indexDir/$name",
        VersionedState.versions(s"$indexDir/$name").filter(_ < batchId),
        schema)
    val withFp = batch.select(col("doc_id"), col("text"))
      .withColumn("fp",
        xxhash64(regexp_replace(trim(col("text")), "\\s+", " ")))
      .withColumn("shingles",
        graft.functions.native.shingleHashes(col("text"), 3))
      .localCheckpoint() // fp dedup, band build, and decisions all fork it
    if (withFp.isEmpty) return
    // exact: smallest doc_id per fingerprint in-batch, then not-in-index.
    // The per-fp window is bounded by a batch's copies of one text.
    val firsts = withFp
      .withColumn("rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1).drop("rn")
    val survivors = firsts
      .join(index("fp", fpSchema).select("fp"), Seq("fp"), "left_anti")
      .localCheckpoint() // bands, decisions, and both index writes fork it
    val bands = DedupOps.minhashBands(survivors.select("doc_id", "shingles"))
      .localCheckpoint() // probed now, landed below
    val near = bands
      .join(index("bands", bandSchema)
        .withColumnRenamed("doc_id", "partner"), Seq("band", "band_sig"))
      .groupBy("doc_id").agg(min(col("partner")).as("near_partner"))
    val decisions = survivors.select("doc_id")
      .join(near, Seq("doc_id"), "left")
      .withColumn("decision",
        when(col("near_partner").isNotNull, lit("near_candidate"))
          .otherwise(lit("kept")))
      .unionByName(withFp.select("doc_id")
        .join(survivors.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("near_partner", lit(null).cast(LongType))
        .withColumn("decision", lit("exact_dup")))
      .withColumn("batch_id", lit(batchId))
    VersionedState.write(decisions, s"$indexDir/decisions", batchId)
    VersionedState.write(survivors.select("fp", "doc_id"), s"$indexDir/fp",
      batchId)
    VersionedState.write(bands.select("band", "band_sig", "doc_id"),
      s"$indexDir/bands", batchId)
  }

  /** Start the loop over a streaming (doc_id, text) frame. Decisions
    * land at `indexDir`/decisions; read them through `decisions`. */
  def start(docs: DataFrame, indexDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", s"$indexDir/_checkpoint")
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, indexDir)
      }
      .start()
}
