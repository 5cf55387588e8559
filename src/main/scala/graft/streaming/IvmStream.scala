package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sinks.VersionedState

/** Streaming INCREMENTAL VIEW MAINTENANCE — the continuous face of
  * cdc8: a per-status count aggregate maintained across microbatches
  * from signed change-stream deltas, never rescanning history.
  *
  * The batch operator recovers each event's predecessor status with one
  * lag(1) window — legal only because every event is present. A stream
  * sees arbitrary slices, so the predecessor lives in STATE: alongside
  * the maintained counts, a (pk → last status) table advances with each
  * batch; an event's predecessor is the in-batch lag where the batch
  * has one, else the state lookup (the exact seam the slice cut).
  *
  * Both tables are VERSIONED BY BATCH ID ([[graft.sinks.VersionedState]]:
  * marker-committed `batch=<id>` directories, one `step` per batch), so
  * a re-delivered batch finds its versions committed and changes
  * nothing — the foreachBatch crash contract.
  *
  * Scale: per batch, one bounded lag window over the batch's own rows,
  * one equi-join against state on pk (bucket the state table on pk via
  * graft.sinks.Bucketing to make it co-located), and a |statuses|-row
  * counts merge. State size is |live keys| — the same footprint a
  * snapshot-maintaining sink already carries. */
object IvmStream {

  private val countsSchema = StructType(Seq(
    StructField("status", StringType), StructField("n", LongType)))
  private val lastSchema = StructType(Seq(
    StructField("pk", LongType), StructField("status", StringType)))

  /** Current maintained counts (after the latest committed batch). */
  def counts(spark: SparkSession, stateDir: String): DataFrame =
    VersionedState.latest(spark, s"$stateDir/counts", countsSchema)

  /** One microbatch of decoded envelopes (pk, seq, kind, status) through
    * the maintenance loop: the signed status deltas of
    * [[IvmJoinStream.sideDeltas]] net into the counts, and the last
    * status per pk advances. Exposed for tests; `start` wires it into
    * foreachBatch. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit =
    VersionedState.step(batch.sparkSession, stateDir, batchId,
        "maintained view", "counts" -> countsSchema, "last" -> lastSchema) {
      case Seq(counts, last) =>
        val (deltas, newLast) = IvmJoinStream.sideDeltas(
          batch.filter(col("kind").isin("insert", "update", "delete")),
          last, Seq("status"), "status")
        val newCounts = counts
          .unionByName(deltas.withColumnRenamed("m", "n"))
          .groupBy("status").agg(sum(col("n")).as("n"))
          .filter(col("n") =!= 0)
        Seq(newCounts, newLast)
    }

  /** Wire a streaming frame of decoded envelopes into the loop. */
  def start(envelopes: DataFrame, stateDir: String,
      checkpoint: String): StreamingQuery =
    envelopes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, stateDir)
      }
      .start()
}
