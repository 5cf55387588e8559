package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}
import graft.sinks.VersionedState

/** Streaming SCD2 maintenance — the continuous face of cdc9: a
  * [valid_from, valid_to) dimension table advanced per microbatch by
  * the SAME incremental merge the batch operator proves against the
  * full rebuild (graft.queries.CdcOps.scd2Merge).
  *
  * Per batch: one [[graft.sinks.VersionedState]] `step` reads the
  * table's previous version, merges the batch's normalized
  * (pk, seq, kind, rev, status) events and writes the next version — a
  * re-delivered batch is a no-op; batch-id gaps fail loudly instead of
  * silently restarting history from empty.
  *
  * Transport contract (same as the batch operator's): per-key event
  * order is non-decreasing across batches — every batch seq for a key
  * exceeds that key's existing valid_froms. CDC capture per backend is
  * ordered (SURVEY §2.3), so a per-backend stream satisfies this by
  * construction.
  *
  * Scale: the merge touches |batch| keys (broadcast key set, anti/semi
  * joins) + one bounded per-key lead window over open versions ∪ batch
  * — never the closed history. The full-table rewrite per version is a
  * test-scale simplification: a production sink would partition by pk
  * bucket and rewrite only touched buckets (graft.sinks.Bucketing),
  * which this loop's merge output is already keyed for. */
object Scd2Stream {

  private[streaming] val tableSchema = StructType(Seq(
    StructField("pk", LongType), StructField("rev", LongType),
    StructField("status", StringType), StructField("valid_from", LongType),
    StructField("valid_to", LongType), StructField("is_current",
      IntegerType)))

  /** The maintained SCD2 table after the latest committed batch. */
  def table(spark: SparkSession, stateDir: String): DataFrame =
    VersionedState.latest(spark, s"$stateDir/scd2", tableSchema)

  /** One microbatch of normalized events through the merge. Exposed for
    * tests; `start` wires it into foreachBatch. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit =
    VersionedState.step(batch.sparkSession, stateDir, batchId, "SCD2 table",
        "scd2" -> tableSchema) {
      case Seq(existing) =>
        val events = batch
          .filter(org.apache.spark.sql.functions.col("kind")
            .isin("insert", "update", "delete"))
          .localCheckpoint() // feeds the key set + the rebuild branch
        Seq(graft.queries.CdcOps.scd2Merge(existing, events))
    }

  /** Wire a streaming frame of normalized events into the loop. */
  def start(events: DataFrame, stateDir: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, stateDir)
      }
      .start()
}
