package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.cdc.SnapshotApply
import graft.cli.Main
import graft.sinks.{EventSink, IdempotentParquetSink, SinkRegistry, SnapshotSink}
import graft.streaming.{CdcPipeline, CdcStream, GraftQueryListener, TxAssembly}
import graft.subscribe.{BackendConfig, ConfigValidation}

/** When each sink's write of each microbatch started and returned. */
case class SinkWrite(sink: String, batchId: Long, startNs: Long, endNs: Long)

/** Times the sink it wraps. In a traced run it first materializes the
  * shared persisted batch, so the sink's span holds its own work only. */
final class TimedSink(inner: EventSink) extends EventSink {
  val name: String = inner.name
  override def kinds: Seq[String] = inner.kinds
  def write(batch: DataFrame, batchId: Long): Unit = {
    val tracer = Cdc.tracer
    if (tracer.enabled && Cdc.computed.add(batchId))
      tracer.span("streaming.batch_compute")(batch.count())
    val t0 = System.nanoTime()
    tracer.span(s"sinks.$name.write")(inner.write(batch, batchId))
    Cdc.writes.add(SinkWrite(name, batchId, t0, System.nanoTime()))
    ()
  }
}

/** The daemon of the CDC workload, built exactly as `cli.Main -c
  * config.json` builds it, and the check of what it landed. */
object Cdc {
  // the stream thread reaches these through TimedSink
  @volatile var tracer: Tracer = new Tracer(false)
  val writes = new ConcurrentLinkedQueue[SinkWrite]()
  val computed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The session `cli.Main -c` starts: local[*] unless a master is given,
    * the required confs, the RocksDB state store and the query listener;
    * no shuffle-partition override. */
  def daemonSession(master: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder().appName("graft-cdc")
    builder.master(master.getOrElse("local[*]"))
    SparkEntry.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    builder.config("spark.sql.streaming.stateStore.providerClass", rocksDb)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(new GraftQueryListener())
    spark
  }

  /** Daemon config for one jsoncdc file backend. */
  def configJson(capture: Path, ckpt: Path,
      sinks: Seq[(String, Path)]): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val backend = JObject(
      "name" -> JString("pg1"), "source" -> JString("file"),
      "wire" -> JString("jsoncdc"),
      "options" -> JObject("path" -> JString(capture.toString),
        "checkpoint" -> JString(ckpt.toString)),
      "excludeTables" -> JArray(List(JString(Capture.excluded))),
      "emit" -> JObject("emitEvent" -> JBool(false)),
      "sinks" -> JArray(sinks.toList.map { case (kind, path) =>
        JObject("kind" -> JString(kind),
          "options" -> JObject("path" -> JString(path.toString)))
      }))
    compact(render(JObject("backends" -> JArray(List(backend)))))
  }

  /** Parse, validate, build the backend's stream, attach its sinks and
    * start it: the calls `cli.Main -c` makes. */
  def start(spark: SparkSession, json: String): (BackendConfig, StreamingQuery) = {
    val cfg = tracer.span("config.parse_validate") {
      val c = Main.parseConfig(json)
      val errors = ConfigValidation.validate(c)
      require(errors.isEmpty, s"config rejected: ${errors.mkString("; ")}")
      c
    }
    val b = cfg.backends.head
    val env = tracer.span("streaming.forBackend")(CdcStream.forBackend(spark, b))
    val q = tracer.span("sinks.attach_start") {
      val sinks = b.sinks.map(s => new TimedSink(SinkRegistry.create(s)))
      SinkRegistry.attach(env, b.emit, sinks)
        .option("checkpointLocation", b.options("checkpoint"))
        .start()
    }
    (b, q)
  }

  /** End of each batch: when its last sink write returned (ns). */
  def batchEnds(): Map[Long, Long] =
    writes.asScala.toSeq.groupBy(_.batchId).map { case (b, ws) => b -> ws.map(_.endNs).max }

  def lines(spark: SparkSession, capture: Path): DataFrame =
    spark.read.schema(CdcStream.lineSchema).json(capture.toString)

  /** Batch reference: one decode + pipeline pass over the whole capture. */
  def reference(spark: SparkSession, capture: Path, b: BackendConfig): DataFrame =
    CdcPipeline.run(TxAssembly.decodeToEvents(lines(spark, capture), b.excludeTables),
      emitTransaction = true)

  private val itemsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("items", ArrayType(StructType(Seq(StructField("seq", LongType)))))))

  /** Mismatches between the landed output and the reference and
    * generator truth: rows that differ, events missing or duplicated,
    * transactions missing, duplicated or with items out of order, and
    * snapshot rows that differ. Also returns each event's batch id. */
  def check(spark: SparkSession, cap: Capture, capture: Path, b: BackendConfig,
      outDir: Path, snapDir: Option[Path]): (Long, Map[String, Long], Array[(Long, Long)]) = {
    val out = IdempotentParquetSink.committed(spark, outDir.toString)
      .withColumn("_batch", regexp_extract(input_file_name(), "batch=(\\d+)", 1).cast("long"))
      .cache()
    val landed = out.drop("_batch")
    val ref = reference(spark, capture, b).select(landed.columns.map(col).toIndexedSeq: _*).cache()
    val rowDiff = landed.exceptAll(ref).count() + ref.exceptAll(landed).count()

    val seqBatch = out.filter(col("kind") =!= "transaction")
      .select("seq", "_batch").collect().map(r => (r.getLong(0), r.getLong(1)))
    val seen = seqBatch.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val expected = cap.expectedSeqs.toSet
    val missing = expected.count(s => !seen.contains(s)).toLong
    val extra = seen.map { case (s, n) => if (expected.contains(s)) n - 1 else n }.sum

    val txs = out.filter(col("kind") === "transaction")
      .select(from_json(col("item"), itemsSchema).as("t"))
      .select(col("t.id"), col("t.items.seq")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val byId = txs.groupBy(_._1)
    val txBad = cap.expectedTx.count { case (id, items) =>
      byId.get(id) match {
        case Some(Array((_, got))) => !java.util.Arrays.equals(got, items)
        case _ => true
      }
    }.toLong + (byId.keySet -- cap.expectedTx.map(_._1)).size

    val snapDiff = snapDir.map { d =>
      val snap = new SnapshotSink(d.toString).current(spark)
      val want = SnapshotApply.snapshot(SnapshotApply.normalize(ref))
        .select(snap.columns.map(col).toIndexedSeq: _*)
      snap.exceptAll(want).count() + want.exceptAll(snap).count()
    }.getOrElse(0L)
    ref.unpersist(); out.unpersist()
    val parts = Map("rows_differing" -> rowDiff, "events_missing" -> missing,
      "events_duplicated" -> extra, "transactions_wrong" -> txBad,
      "snapshot_rows_differing" -> snapDiff)
    (parts.values.sum, parts, seqBatch)
  }
}
