package graft.sinks

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{JsonCdc, SnapshotApply}
import graft.subscribe.SinkConfig

/** Sink ("plugin") layer — the reference's fan-out/dispatch + plugin
  * registry (O16/O18/O19/O20; reference src/plugins dir, loader
  * lapidus.js:28-49).
  *
  * A sink consumes one microbatch of canonical envelopes. Fan-out to many
  * sinks happens inside a single foreachBatch so the batch is computed
  * once (the reference dispatches each event to each handler serially;
  * Spark owns scheduling — SURVEY.md §2.2).
  */
trait EventSink extends Serializable {
  def name: String
  def write(batch: DataFrame, batchId: Long): Unit
  /** Kind subscription — the reference's kind-scoped callback registry
    * (a handler attaches to `insert` OR `update` individually,
    * postgresql.js:99-122). Empty = all kinds (the `event` firehose). */
  def kinds: Seq[String] = Nil
}

/** Scopes any sink to a subset of envelope kinds (SinkConfig.kinds). */
class KindScopedSink(inner: EventSink, override val kinds: Seq[String])
    extends EventSink {
  val name = inner.name
  def write(batch: DataFrame, batchId: Long): Unit = inner.write(batch, batchId)
}

/** O19 — debug/console sink. */
class ConsoleSink(numRows: Int = 20) extends EventSink {
  val name = "console"
  def write(batch: DataFrame, batchId: Long): Unit =
    batch.show(numRows, truncate = false)
}

/** O18 — NATS-style subject routing with optional cache-bus messages.
  * subject = schema.table.pk (nats.js:17-21); cache bus publishes
  * {prefix}.{populate|invalidate|purge}.{subject} by kind (nats.js:25-28).
  * The producer is pluggable: tests inject an in-memory collector, an
  * embedding application a real NATS/Kafka client, and the config kind
  * `subject-routing` a stdout publisher (SinkRegistry).
  */
class SubjectRoutingSink(
    publisherFactory: () => (String, String) => Unit,
    schemaName: String = "public",
    cachePrefix: Option[String] = None) extends EventSink {
  val name = "subject-routing"
  def write(batch: DataFrame, batchId: Long): Unit = {
    // empty/null schema → two-component subject (the reference's Mongo
    // plugin publishes `ns.pk`, nats.js:19-21; concat_ws skips nulls)
    val schemaCol =
      if (schemaName == null || schemaName.isEmpty) lit(null).cast("string")
      else lit(schemaName)
    val subj = JsonCdc.subject(schemaCol, col("table"), col("pk"))
    val withSubj = batch
      .filter(col("kind").isin("insert", "update", "delete"))
      .withColumn("subject", subj)
      .withColumn("cache_subject", cachePrefix.map(p =>
        JsonCdc.cacheSubject(p, col("kind"), subj)).getOrElse(lit(null)))
      .withColumn("payload", to_json(struct(
        col("kind"), col("table"), col("pk"), col("item"))))
    // publish from the executors — never funnel the batch through the
    // driver. One producer per partition; the factory runs executor-side
    // so connection state is never serialized.
    val factory = publisherFactory
    withSubj.select("subject", "cache_subject", "payload")
      .foreachPartition { (it: Iterator[Row]) =>
        val publish = factory()
        it.foreach { r =>
          publish(r.getString(0), r.getString(2))
          if (!r.isNullAt(1)) publish(r.getString(1), "")
        }
      }
  }
}

/** Exactly-once warehouse landing, behind both the `parquet` and the
  * `parquet-exactly-once` config kinds. Structured Streaming's
  * foreachBatch is at-least-once with a STABLE batchId: a crash between
  * the write and the checkpoint commit re-delivers the same rows under
  * the same id. Each batch lands as one [[VersionedState]] version
  * (`batch=<id>`, marker-committed), which makes the replay a no-op and
  * keeps a half-written batch invisible to readers until the retry
  * overwrites it. This is the upgrade over the reference's at-least-once
  * delivery (reference README.md:53-55: restart replays from the slot)
  * that its NATS consumers must otherwise implement by hand. Every batch
  * is kept: the landed table is the union of all versions, read through
  * `IdempotentParquetSink.committed`.
  *
  * `partitionBy` (e.g. table, kind) lays each version out as hive-style
  * directories (`batch=<id>/table=…/kind=…`) so readers prune partitions:
  * at 100 TB an unpartitioned event dump forces every consumer to scan
  * everything, and the natural CDC read patterns ("one table's changes",
  * "all deletes") are partition-prunable for free. */
class IdempotentParquetSink(path: String, partitionBy: Seq[String] = Nil)
    extends EventSink {
  val name = "parquet-exactly-once"
  def write(batch: DataFrame, batchId: Long): Unit =
    VersionedState.write(batch, path, batchId, partitionBy = partitionBy)
}

object IdempotentParquetSink {
  /** All COMMITTED batches as one frame (uncommitted dirs invisible),
    * with the partition columns of a `partitionBy` layout. */
  def committed(spark: SparkSession, path: String): DataFrame =
    VersionedState.readAll(spark, path)
}

/** Materialized CURRENT-STATE table maintained from the change stream —
  * the reference's consumers rebuild this by hand from NATS events.
  * Merge-on-read, after the log-structured merge (O'Neil et al., 1996):
  * each microbatch lands only its changes and readers merge, so a
  * trigger's write follows its delta, not the table.
  *
  *   - Versions: batch b is one [[VersionedState]] version. Batch 0 is
  *     a base, `SnapshotApply.snapshot` of its changes. A later batch is
  *     a delta, its `SnapshotApply.normalize`d changes as they are,
  *     tagged `_DELTA` before its commit marker. An untagged version is
  *     a base, so a directory of whole versions reads as bases.
  *   - Reads: version v is the latest base k ≤ v advanced by the deltas
  *     in (k, v], `SnapshotApply.advance(base, union(deltas))`. That is
  *     the bootstrap handoff `CdcBootstrapSpec` pins, so the read equals
  *     a full rewrite. A version with no deltas is a plain base read.
  *     `current` reads the latest version, `version` a retained older
  *     one.
  *   - Compaction: batch b writes a new base, the same merge over the
  *     live deltas and its own changes, instead of a delta when the
  *     deltas version b−1 reads number `MaxDeltas`, or when their bytes
  *     pass both the base's and one file-scan partition
  *     (`spark.sql.files.maxPartitionBytes`). Below that size a reader's
  *     merge adds less than one task's input, so compacting sooner buys
  *     readers nothing and costs the daemon a full-table job. The rule
  *     reads committed versions only, so the replay of a torn version
  *     may decide either way and is correct both ways. A small table
  *     pays a full-table merge on one trigger in `MaxDeltas` + 1, a
  *     large one when its deltas outgrow its base.
  *   - Retention: after batch b, every version older than the base that
  *     b−1 reads is pruned. Versions b−1 and b stay readable, and disk
  *     holds at most two bases and `MaxDeltas` deltas.
  *   - A committed replay is a no-op, a torn version is overwritten, and
  *     a batch-id gap (a checkpoint reset against an existing snapshot
  *     directory) fails instead of merging onto a stale version.
  *
  * Merge width: inside a stream with a stateful operator Spark turns
  * AQE off, and the microbatch's session carries the query's state
  * partition count as its shuffle width (1 for a `CdcStream.forBackend`
  * query, see there), so a plain aggregate would merge a snapshot of
  * any size on that many tasks. `SnapshotApply.advance` instead merges
  * on the base's file-scan partition count (at least 1): one task for a
  * small table, more as it grows. Reads and compactions both merge so. */
class SnapshotSink(path: String) extends EventSink {
  import SnapshotSink._
  val name = "snapshot"

  /** Latest committed snapshot version. */
  def current(spark: SparkSession): DataFrame =
    version(spark, VersionedState.versions(path).lastOption
      .getOrElse(throw new IllegalStateException(
        s"no committed snapshot under $path")))

  /** Committed snapshot version `batchId`, while it is retained. */
  def version(spark: SparkSession, batchId: Long): DataFrame = {
    val (base, deltas) = layout(batchId)
    merged(spark, base, deltas, None)
  }

  def write(batch: DataFrame, batchId: Long): Unit = {
    VersionedState.requireLineage(path, batchId, "snapshot")
    val changes = SnapshotApply.normalize(batch)
    if (batchId == 0)
      VersionedState.write(SnapshotApply.snapshot(changes), path, batchId)
    else {
      val spark = batch.sparkSession
      val (base, live) = layout(batchId - 1)
      if (compacts(spark, base, live))
        VersionedState.write(merged(spark, base, live, Some(changes)),
          path, batchId)
      else VersionedState.write(changes, path, batchId, Some(DeltaTag))
      VersionedState.prune(path, base)
    }
  }

  /** The latest base at or below `batchId` and the deltas after it. */
  private def layout(batchId: Long): (Long, Seq[Long]) = {
    val base = VersionedState.versions(path).filter(_ <= batchId)
      .findLast(!VersionedState.tagged(path, _, DeltaTag))
      .getOrElse(throw new IllegalStateException(
        s"snapshot version batch=$batchId is not retained under $path"))
    (base, base + 1 to batchId)
  }

  /** Base `base` advanced by the committed `deltas` and `changes`. */
  private def merged(spark: SparkSession, base: Long, deltas: Seq[Long],
      changes: Option[DataFrame]): DataFrame = {
    val snap = VersionedState.read(spark, path, base,
      SnapshotApply.snapshotSchema)
    (Option.when(deltas.nonEmpty)(VersionedState.read(spark, path, deltas,
      SnapshotApply.changeSchema)) ++ changes).reduceOption(_ unionByName _)
      .fold(snap)(SnapshotApply.advance(snap, _))
  }

  private def compacts(spark: SparkSession, base: Long,
      live: Seq[Long]): Boolean = live.size >= MaxDeltas || {
    val bytes = live.map(VersionedState.bytes(path, _)).sum
    bytes > VersionedState.bytes(path, base) &&
      bytes > JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
  }
}

object SnapshotSink {
  /** Most deltas a version read merges onto its base. */
  val MaxDeltas = 16
  private val DeltaTag = "_DELTA"
}

/** O20 — plugin registry: the sink kinds a config may name, each
  * resolved from its SinkConfig to an implementation. */
object SinkRegistry {
  /** A sink kind: whether it lands a versioned table under
    * `options.path`, the options its builder reads with `.toInt`, and
    * the builder. */
  case class Kind(lands: Boolean, intOptions: Seq[String],
      build: SinkConfig => EventSink)

  private val landing = Kind(lands = true, Nil, cfg =>
    new IdempotentParquetSink(cfg.options("path"),
      cfg.options.get("partitionBy").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)))

  /** Every sink kind by its config name. `parquet` and
    * `parquet-exactly-once` name one landing. `subject-routing` ships a
    * stdout publisher (`[publish] <subject> <payload>` lines); an
    * embedding application builds `SubjectRoutingSink` with its own
    * NATS/Kafka producer factory and attaches it directly. */
  val kinds: Map[String, Kind] = Map(
    "console" -> Kind(lands = false, Seq("numRows"), cfg =>
      new ConsoleSink(cfg.options.getOrElse("numRows", "20").toInt)),
    "subject-routing" -> Kind(lands = false, Nil, cfg =>
      new SubjectRoutingSink(
        () => (s, p) => println(s"[publish] $s $p"),
        cfg.options.getOrElse("schema", "public"),
        cfg.options.get("cachePrefix"))),
    "parquet" -> landing,
    "parquet-exactly-once" -> landing,
    "snapshot" -> Kind(lands = true, Nil, cfg =>
      new SnapshotSink(cfg.options("path"))))

  /** The sink of a backend whose config names none. */
  val default: SinkConfig = SinkConfig("console")

  def create(cfg: SinkConfig): EventSink = {
    val base = kinds.getOrElse(cfg.kind, throw new IllegalArgumentException(
      s"invalid plugin: ${cfg.kind}")).build(cfg)
    if (cfg.kinds.isEmpty) base else new KindScopedSink(base, cfg.kinds)
  }

  /** Fan a (streaming) envelope frame out to all sinks via one
    * foreachBatch; per-kind emit flags become a single filter. When the
    * generic `event` flag is on, every row is ALSO re-dispatched as a
    * type-stamped `event` envelope (kind = "event", original kind in
    * `type`) regardless of the per-kind flags — the reference's
    * unconditional `emit('event', msg)` path (postgresql.js:515-547,
    * including the transaction re-emit). */
  def attach(
      envelopes: DataFrame,
      emit: graft.subscribe.EmitFlags,
      sinks: Seq[EventSink]): org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    val kinds = emit.enabledKinds
    envelopes.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val named = batch.filter(col("kind").isin(kinds: _*))
      val dispatched =
        if (!emit.event) named
        else named.withColumn("type", lit(null).cast("string"))
          .unionByName(batch
            .withColumn("type", col("kind"))
            .withColumn("kind", lit("event")))
      dispatched.persist()
      // per-sink kind scoping happens on the shared persisted batch, so
      // N scoped sinks still compute the microbatch once
      try sinks.foreach { s =>
        val view =
          if (s.kinds.isEmpty) dispatched
          else dispatched.filter(col("kind").isin(s.kinds: _*))
        s.write(view, id)
      }
      finally { dispatched.unpersist(); () }
    }
  }
}
