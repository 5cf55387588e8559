package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.sinks.VersionedState

/** Streaming IVM OF A JOIN VIEW — the continuous face of cdc10: the
  * bilinear delta rule Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB applied per
  * microbatch, with BOTH sides' change streams arriving interleaved in
  * one tagged stream (side = 'o' orders / 'c' customers — at scale,
  * two capture topics union into one frame exactly like this).
  *
  * State, versioned by batch id (one re-delivery-idempotent
  * [[graft.sinks.VersionedState]] `step` per batch):
  *   - `view`  (nat, st, n)  — the maintained aggregate;
  *   - `azset` (ck, st, m)   — A's accumulated Z-set (net row
  *     multiplicities), the B₀-side join input;
  *   - `bzset` (ck, nat, m)  — B's accumulated Z-set;
  *   - `alast`/`blast` (pk → last attrs) — predecessor state for the
  *     signed-delta derivation, the same seam IvmStream carries: an
  *     event's predecessor is the in-batch lag where the batch has
  *     one, else the state lookup; unknown predecessors fail loudly
  *     (attach-mid-history guard).
  *
  * Per batch the work is ∝ |batch|: the batch deltas broadcast into
  * the three delta terms, the Z-sets are touched only on the join key
  * (bucket them on ck via graft.sinks.Bucketing at scale), and the
  * view merge is |groups| rows. The accumulated A⋈B is NEVER rescanned
  * — that is the IVM contract, proven by IvmJoinStreamSpec's
  * equality-with-batch-recompute over chunked replays. */
object IvmJoinStream {

  private val viewSchema = StructType(Seq(
    StructField("nat", IntegerType), StructField("st", StringType),
    StructField("n", LongType)))
  private val aZSchema = StructType(Seq(
    StructField("ck", LongType), StructField("st", StringType),
    StructField("m", LongType)))
  private val bZSchema = StructType(Seq(
    StructField("ck", LongType), StructField("nat", IntegerType),
    StructField("m", LongType)))
  private val aLastSchema = StructType(Seq(
    StructField("pk", LongType), StructField("ck", LongType),
    StructField("st", StringType)))
  private val bLastSchema = StructType(Seq(
    StructField("pk", LongType), StructField("ck", LongType),
    StructField("nat", IntegerType)))

  /** The maintained join view (after the latest committed batch). */
  def view(spark: SparkSession, stateDir: String): DataFrame =
    VersionedState.latest(spark, s"$stateDir/view", viewSchema)

  /** Signed attr deltas for one side's batch slice, predecessors from
    * in-batch lag else the carried last-state. Returns (deltas rows
    * (attrs..., m) UNGROUPED, the advanced last table). */
  private[streaming] def sideDeltas(batch: DataFrame, prevLast: DataFrame,
      attrs: Seq[String], sideName: String): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("pk").orderBy("seq")
    // in_state marks a carried key explicitly: a non-null state attr
    // can't, since NULL is a legitimate last value whose −1 must land
    val st = prevLast
      .select(col("pk") +: attrs.map(a => col(a).as(s"state_$a")): _*)
      .withColumn("in_state", lit(true))
    val lagged = attrs.foldLeft(batch)((d, a) =>
      d.withColumn(s"lag_$a", lag(col(a), 1).over(w)))
    val ev = lagged
      .withColumn("rn", row_number().over(w))
      .join(st, Seq("pk"), "left")
      .withColumn("has_prev",
        col("rn") > 1 || coalesce(col("in_state"), lit(false)))
    val withPrev = attrs.foldLeft(ev)((d, a) =>
      d.withColumn(s"prev_$a",
        when(col("rn") === 1, col(s"state_$a")).otherwise(col(s"lag_$a"))))
      .localCheckpoint() // deltas + last advance + orphan check fork it
    val orphans = withPrev.filter(
      col("kind").isin("update", "delete") && !col("has_prev")).count()
    require(orphans == 0,
      s"$orphans $sideName update/delete event(s) with unknown " +
        "predecessor state — the stream was attached mid-history; seed " +
        "the state tables from a snapshot before attaching")
    val plus = struct(attrs.map(col) :+ lit(1L).as("m"): _*)
    val minus = struct(
      attrs.map(a => col(s"prev_$a").as(a)) :+ lit(-1L).as("m"): _*)
    val deltas = withPrev.select(explode(array(
        when(col("kind").isin("insert", "update"), plus),
        when(col("kind").isin("update", "delete"), minus))).as("d"))
      .filter(col("d").isNotNull)
      .select(attrs.map(a => col(s"d.$a")) :+ col("d.m"): _*)
    val lastInBatch = withPrev.groupBy("pk")
      .agg(max_by(struct(col("kind") +: attrs.map(col): _*),
        col("seq")).as("l"))
      .select(col("pk") +: ("kind" +: attrs).map(a => col(s"l.$a")): _*)
    val newLast = prevLast
      .join(lastInBatch.select("pk"), Seq("pk"), "left_anti")
      .unionByName(lastInBatch.filter(col("kind") =!= "delete")
        .select(("pk" +: attrs).map(col): _*))
    (deltas, newLast)
  }

  private def netted(deltas: DataFrame, attrs: Seq[String],
      mc: String): DataFrame =
    deltas.groupBy(attrs.map(col): _*).agg(sum("m").as(mc))
      .filter(col(mc) =!= 0)

  /** One microbatch of tagged envelopes
    * (side, pk, seq, kind, ck, st, nat) through the maintenance loop.
    * Exposed for tests; `start` wires it into foreachBatch. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      stateDir: String): Unit =
    VersionedState.step(batch.sparkSession, stateDir, batchId,
        "maintained join view", "view" -> viewSchema, "azset" -> aZSchema,
        "bzset" -> bZSchema, "alast" -> aLastSchema,
        "blast" -> bLastSchema) {
      case Seq(view, azset, bzset, alast, blast) =>
        val b = batch.filter(col("kind").isin("insert", "update", "delete"))
          .localCheckpoint()
        val (dAraw, newALast) = sideDeltas(
          b.filter(col("side") === "o").select("pk", "seq", "kind", "ck", "st"),
          alast, Seq("ck", "st"), "orders")
        val (dBraw, newBLast) = sideDeltas(
          b.filter(col("side") === "c").select("pk", "seq", "kind", "ck", "nat"),
          blast, Seq("ck", "nat"), "customer")
        val dA = netted(dAraw, Seq("ck", "st"), "ma").localCheckpoint()
        val dB = netted(dBraw, Seq("ck", "nat"), "mb").localCheckpoint()
        val aZ = azset.withColumnRenamed("m", "ma")
        val bZ = bzset.withColumnRenamed("m", "mb")
        val pair = (col("ma") * col("mb")).as("m")
        val dView =
          broadcast(dA).join(bZ, "ck").select(col("nat"), col("st"), pair)
            .unionByName(
              aZ.join(broadcast(dB), "ck").select(col("nat"), col("st"), pair))
            .unionByName(
              broadcast(dA).join(dB, "ck").select(col("nat"), col("st"), pair))
        val newView = view
          .unionByName(dView.withColumnRenamed("m", "n"))
          .groupBy("nat", "st").agg(sum("n").as("n"))
          .filter(col("n") =!= 0)
        val newA = aZ.withColumnRenamed("ma", "m")
          .unionByName(dA.withColumnRenamed("ma", "m"))
          .groupBy("ck", "st").agg(sum("m").as("m")).filter(col("m") =!= 0)
        val newB = bZ.withColumnRenamed("mb", "m")
          .unionByName(dB.withColumnRenamed("mb", "m"))
          .groupBy("ck", "nat").agg(sum("m").as("m")).filter(col("m") =!= 0)
        Seq(newView, newA, newB, newALast, newBLast)
    }

  /** Wire a streaming frame of tagged envelopes into the loop. */
  def start(envelopes: DataFrame, stateDir: String,
      checkpoint: String): StreamingQuery =
    envelopes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, id, stateDir)
      }
      .start()
}
