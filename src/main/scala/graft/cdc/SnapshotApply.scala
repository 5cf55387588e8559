package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC bootstrap: materialize a snapshot from a change-stream replay,
  * then ADVANCE it with later deltas — the backfill → streaming handoff
  * every CDC consumer performs (replay history up to seq S into a
  * warehouse table, then resume the live stream at seq > S).
  *
  * Semantics per (table, pk): the event with the highest seq wins; a
  * winning delete removes the row. Both operations are a single hash
  * aggregate (deliberately NOT `row_number() = 1`, which would sort
  * every partition); `advance` re-enters the snapshot rows as
  * pseudo-inserts at their as_of_seq, so the delta merge is the SAME
  * aggregate — one code path, one shuffle, incremental cost
  * proportional to |snapshot| + |delta|. `snapshot` combines map-side
  * before its shuffle; `advance` hash-partitions its input by
  * (table, pk) first, so every snapshot and delta row crosses the
  * shuffle uncombined (the snapshot's rows are one per key anyway). At
  * very large snapshot sizes, bucket both sides by (table, pk-hash) on
  * disk so the merge shuffles only the delta.
  *
  * Handoff contract: `snapshot(lines ≤ S)` then
  * `advance(snap, decode(lines > S))` equals `snapshot(all lines)` for
  * any split point S — pinned by CdcBootstrapSpec across random split
  * points. The streaming side resumes at seq > S (file source path
  * filter or Kafka starting offsets) with a fresh checkpoint.
  */
object SnapshotApply {

  /** Normalized change feed: (table, pk, kind, item, seq).
    *
    * `seq` must TOTALLY order the events of any single pk — for wire
    * formats where one statement emits several rows under one seq
    * (binlog multi-row events, BinlogCdc's `row_idx`), pass a composed
    * expression, e.g. `expr("seq * 65536 + row_idx")`; a bare
    * statement-level seq would leave the winner among same-statement
    * rows of one pk up to the engine. */
  def normalize(decoded: DataFrame, seqExpr: String = "seq"): DataFrame =
    decoded.filter(col("kind").isin("insert", "update", "delete"))
      .select(col("table"), col("pk"), col("kind"), col("item"),
        expr(seqExpr).cast("long").as("seq"))

  /** Current state per (table, pk): latest event wins, deletes drop.
    * Residual seq ties (a caller that ignored the normalize contract)
    * break on (kind, item) — an arbitrary but RUN-STABLE winner, so a
    * replay and a live stream still converge to the same table. */
  def snapshot(changes: DataFrame): DataFrame =
    changes
      .groupBy("table", "pk")
      .agg(max_by(struct(col("seq"), col("kind"), col("item")),
        struct(col("seq"), col("kind"), col("item"))).as("last"))
      .filter(col("last.kind") =!= "delete")
      .select(col("table"), col("pk"), col("last.item").as("item"),
        col("last.seq").as("as_of_seq"))

  /** Snapshot + later deltas → new snapshot. Deltas at or before a
    * row's as_of_seq lose to it (replayed prefix rows are harmless —
    * at-least-once friendly).
    *
    * Merge width: the union is hash-partitioned by (table, pk) to
    * `snap`'s own partition count (at least 1) and the aggregate reuses
    * that partitioning, adding no second exchange. For a version read
    * back from parquet that count is its file-scan partitions, which
    * Spark sizes from the bytes, `spark.sql.files.maxPartitionBytes` and
    * the core count — so the merge does not take the session's shuffle
    * width, which inside a stateful stream is the query's state
    * partition count with AQE off (see `SnapshotSink`). */
  def advance(snap: DataFrame, deltas: DataFrame): DataFrame = {
    val snapAsEvents = snap.select(col("table"), col("pk"),
      lit("insert").as("kind"), col("item"), col("as_of_seq").as("seq"))
    snapshot(snapAsEvents.unionByName(deltas).repartition(
      math.max(1, snap.rdd.getNumPartitions), col("table"), col("pk")))
  }
}
