package graft.sinks

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.cdc.JsonCdc
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

/** Test sink: collects rows in-process (the replacement for the
  * reference's live-DB assertions — SURVEY.md §5). */
class CollectingSink extends EventSink {
  val name = "collect"
  val rows = new ConcurrentLinkedQueue[Row]()
  def write(batch: DataFrame, batchId: Long): Unit =
    batch.collect().foreach(rows.add)
  def collected: Seq[Row] = rows.asScala.toSeq
}

/** O18 — NATS-style subject routing with optional cache-bus messages.
  * subject = schema.table.pk (nats.js:17-21); cache bus publishes
  * {prefix}.{populate|invalidate|purge}.{subject} by kind (nats.js:25-28).
  * The producer is pluggable so tests inject an in-memory collector and
  * production injects a real NATS/Kafka client.
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

/** Warehouse sink. `partitionBy` (e.g. table, kind) lays envelopes out
  * as hive-style directories so downstream readers prune partitions —
  * at 100 TB an unpartitioned event dump forces every consumer to scan
  * everything, and the natural CDC read patterns ("one table's changes",
  * "all deletes") are partition-prunable for free. */
class ParquetSink(path: String, partitionBy: Seq[String] = Nil)
    extends EventSink {
  val name = "parquet"
  def write(batch: DataFrame, batchId: Long): Unit = {
    val w = batch.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }
}

/** Exactly-once warehouse landing. Structured Streaming's foreachBatch
  * is at-least-once with a STABLE batchId: a crash between the write and
  * the checkpoint commit re-delivers the same rows under the same id.
  * Landing each batch in a `batch=<id>` directory sealed by a marker
  * file makes the replay a no-op — marker present means the batch
  * already landed, a half-written directory without its marker is
  * invisible to readers and overwritten by the retry. This is the
  * upgrade over the reference's at-least-once delivery
  * (reference README.md:53-55: restart replays from the slot) that its
  * NATS consumers must otherwise implement by hand.
  *
  * Local-filesystem markers here; on an object store the same pattern
  * rides the Hadoop FileSystem API (rename-commit or a manifest). */
class IdempotentParquetSink(path: String) extends EventSink {
  val name = "parquet-exactly-once"
  def write(batch: DataFrame, batchId: Long): Unit = {
    val dir = new java.io.File(s"$path/batch=$batchId")
    val marker = new java.io.File(dir, "_COMMITTED")
    if (marker.exists()) return // replayed batch: already landed
    batch.write.mode("overwrite").parquet(dir.toString)
    marker.createNewFile()
    ()
  }
}

object IdempotentParquetSink {
  /** All COMMITTED batches as one frame (uncommitted dirs invisible). */
  def committed(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val dirs = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && new java.io.File(d, "_COMMITTED").exists())
      .map(_.toString)
    require(dirs.nonEmpty, s"no committed batches under $path")
    spark.read.parquet(dirs: _*)
  }
}

/** Materialized CURRENT-STATE table maintained from the change stream —
  * the reference's consumers rebuild this by hand from NATS events; here
  * each microbatch advances a versioned snapshot
  * (graft.cdc.SnapshotApply.advance) and commits it under
  * `version=<batchId>` with a marker, so readers always see one complete
  * version, a crash replay overwrites the torn version idempotently, and
  * time travel across versions is free. Version dirs accrete; a real
  * deployment vacuums old versions after a retention window.
  *
  * Merge width: inside a stream with a stateful operator Spark turns
  * AQE off, and the microbatch's session carries the query's state
  * partition count as its shuffle width (1 for a `CdcStream.forBackend`
  * query, see there), so a plain aggregate would merge a snapshot of
  * any size on that many tasks. `SnapshotApply.advance` instead merges
  * on the previous version's file-scan partition count (at least 1):
  * one task for a small table, more as it grows. */
class SnapshotSink(path: String) extends EventSink {
  val name = "snapshot"

  private def latestCommitted(): Option[java.io.File] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory &&
        new java.io.File(d, "_COMMITTED").exists())
      .sortBy(d => d.getName.stripPrefix("version=").toLong)
      .lastOption

  /** Latest committed snapshot version (empty-schema error if none). */
  def current(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val d = latestCommitted().getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $path"))
    spark.read.parquet(d.toString)
  }

  def write(batch: DataFrame, batchId: Long): Unit = {
    val dir = new java.io.File(s"$path/version=$batchId")
    val marker = new java.io.File(dir, "_COMMITTED")
    if (marker.exists()) return // replayed batch: version already built
    val spark = batch.sparkSession
    val deltas = graft.cdc.SnapshotApply.normalize(batch)
    val next = latestCommitted() match {
      case Some(prev) => graft.cdc.SnapshotApply.advance(
        spark.read.parquet(prev.toString), deltas)
      case None => graft.cdc.SnapshotApply.snapshot(deltas)
    }
    next.write.mode("overwrite").parquet(dir.toString)
    marker.createNewFile()
    ()
  }

  /** Retention: delete all committed versions except the newest
    * `keepLast`. Never touches uncommitted (in-flight) version dirs —
    * a concurrent writer's torn directory is its own to overwrite. */
  def vacuum(keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "must keep at least the current version")
    val committed = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory &&
        new java.io.File(d, "_COMMITTED").exists())
      .sortBy(_.getName.stripPrefix("version=").toLong)
    committed.dropRight(keepLast).map { d =>
      // recursive: a crashed write can leave nested dirs (_temporary)
      // that a flat listFiles().delete() would silently fail to remove,
      // leaving an unreclaimed, no-longer-committed directory behind
      Maintenance.deleteRecursively(d)
      d.getName
    }
  }
}

/** O20 — plugin registry: resolve a SinkConfig to an implementation. */
object SinkRegistry {
  def create(cfg: SinkConfig): EventSink = {
    val base = createBase(cfg)
    if (cfg.kinds.isEmpty) base else new KindScopedSink(base, cfg.kinds)
  }

  private def createBase(cfg: SinkConfig): EventSink = cfg.kind match {
    case "console" => new ConsoleSink(
      cfg.options.getOrElse("numRows", "20").toInt)
    case "collect" => new CollectingSink
    case "parquet" => new ParquetSink(cfg.options("path"),
      cfg.options.get("partitionBy").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    case "parquet-exactly-once" =>
      new IdempotentParquetSink(cfg.options("path"))
    case "snapshot" => new SnapshotSink(cfg.options("path"))
    case "subject-routing" =>
      new SubjectRoutingSink(
        () => (s, p) => println(s"[publish] $s $p"),
        cfg.options.getOrElse("schema", "public"),
        cfg.options.get("cachePrefix"))
    case other => throw new IllegalArgumentException(
      s"invalid plugin: $other")
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
