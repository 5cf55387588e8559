package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * marker-committed `batch=<id>` directories): processing batch b reads
  * version b−1 and writes version b, so a re-delivered batch finds its
  * versions committed and changes nothing — the foreachBatch crash
  * contract.
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
    * the maintenance loop. Exposed for tests; `start` wires it into
    * foreachBatch. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit = {
    val spark = batch.sparkSession
    VersionedState.requireLineage(s"$stateDir/counts", batchId,
      "maintained view")
    val w = Window.partitionBy("pk").orderBy("seq")
    // in_state marks "this pk exists in carried state" explicitly:
    // state_status.isNotNull can't — NULL is a legitimate last status
    // (statusDeltas' contract), and its −1 must still land on it
    val prevLast = VersionedState.read(spark, s"$stateDir/last", batchId - 1,
      lastSchema).withColumnRenamed("status", "state_status")
      .withColumn("in_state", lit(true))
    val ev = batch
      .filter(col("kind").isin("insert", "update", "delete"))
      .withColumn("prev_in", lag(col("status"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .join(prevLast, Seq("pk"), "left")
      .withColumn("prev",
        when(col("rn") === 1, col("state_status")).otherwise(col("prev_in")))
      .withColumn("has_prev",
        col("rn") > 1 || coalesce(col("in_state"), lit(false)))
      .localCheckpoint() // deltas + last-state advance both fork it
    // an update/delete whose predecessor neither the batch nor the
    // state knows = the stream started mid-history; its −1 has no
    // status to land on, so the view would silently drift — fail loudly
    val orphans = ev.filter(
      col("kind").isin("update", "delete") && !col("has_prev")).count()
    require(orphans == 0,
      s"$orphans update/delete event(s) with unknown predecessor state — " +
        "the stream was attached mid-history; seed the state tables from " +
        "a snapshot (cdc5) before attaching")
    val deltas = graft.queries.CdcOps.statusDeltas(ev)
      .withColumnRenamed("delta", "n")
    val newCounts = VersionedState.read(spark, s"$stateDir/counts", batchId - 1,
        countsSchema)
      .unionByName(deltas)
      .groupBy("status").agg(sum(col("n")).as("n"))
      .filter(col("n") =!= 0)
    // last-status advance: latest in-batch event per pk wins; deletes
    // drop the key; untouched keys carry over
    val lastInBatch = ev.groupBy("pk")
      .agg(max_by(struct(col("kind"), col("status")), col("seq")).as("l"))
      .select(col("pk"), col("l.kind").as("kind"),
        col("l.status").as("status"))
    val newLast = prevLast
      .join(lastInBatch.select("pk"), Seq("pk"), "left_anti")
      .select(col("pk"), col("state_status").as("status"))
      .unionByName(lastInBatch.filter(col("kind") =!= "delete")
        .select("pk", "status"))
    VersionedState.write(newCounts, s"$stateDir/counts", batchId)
    VersionedState.write(newLast, s"$stateDir/last", batchId)
    Seq("counts", "last").foreach(t =>
      VersionedState.prune(s"$stateDir/$t", batchId - 1))
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
