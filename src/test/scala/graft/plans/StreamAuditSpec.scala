package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.{AttributionStream, EventStreams, FunnelStream}

case class AuditEv(ts: Timestamp, event_type: String, user_id: Long,
    event_id: Long, value: Double)

case class BinlogLine(backend: String, seq: Long, line: String)

/** StreamAudit — each detector fires on a deliberately leaky streaming
  * plan and stays silent on the watermarked equivalent, then the
  * repo's own streaming builders are swept: every stateful operator
  * across the S-surface either carries an eviction bound or is
  * allowlisted with the reason its state is bounded by DESIGN. */
class StreamAuditSpec extends SparkSpec {
  import spark.implicits._

  private def events: DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    MemoryStream[AuditEv].toDF()
  }

  private def kinds(df: DataFrame): Seq[String] =
    StreamAudit.audit(df).map(_.kind)

  test("unbounded-state fires on a watermarkless streaming aggregate, " +
      "dedup, and stream-stream join; the watermarked forms are clean; " +
      "batch frames are never findings") {
    // aggregate keyed by a corpus-scale column, no watermark: one state
    // row per user forever
    val agg = events.groupBy("user_id").count()
    assert(kinds(agg) == Seq(StreamAudit.UnboundedState), kinds(agg))
    // the same aggregate windowed + watermarked: evictable, clean
    assert(kinds(EventStreams.tumbling(events)).isEmpty)
    // dedup without watermark: the seen-key set grows with the stream
    val dd = events.dropDuplicates("event_id")
    assert(kinds(dd) == Seq(StreamAudit.UnboundedState), kinds(dd))
    assert(kinds(EventStreams.dedup(events)).isEmpty)
    // stream-stream join, neither side watermarked: buffers never evict
    val l = events.select(col("user_id"), col("ts").as("l_ts"))
    val r = events.select(col("user_id").as("r_uid"), col("ts").as("r_ts"))
    val j = l.join(r, col("user_id") === col("r_uid") &&
      col("r_ts") >= col("l_ts") - expr("INTERVAL 10 MINUTES") &&
      col("r_ts") <= col("l_ts"))
    assert(kinds(j) == Seq(StreamAudit.UnboundedState), kinds(j))
    assert(StreamAudit.audit(j).head.detail.contains("either side"))
    // both sides watermarked (the S07 shape): clean
    assert(kinds(EventStreams.purchaseAttribution(events)).isEmpty)
    // a batch frame keeps nothing between batches: no findings ever
    assert(StreamAudit.audit(
      Seq((1L, "a")).toDF("user_id", "event_type")
        .groupBy("event_type").count()).isEmpty)
  }

  test("unbounded-state fires when a watermark is PRESENT but never " +
      "reaches the keys — the false-negative class: in update mode " +
      "Spark evicts aggregate/dedup state only when the event-time " +
      "column (or a window over it) is among the grouping/dedup keys") {
    // watermarked but keyed by user_id only: one state row per user,
    // never evicted — the watermark bounds nothing here
    val agg = events.withWatermark("ts", "10 minutes")
      .groupBy("user_id").count()
    assert(kinds(agg) == Seq(StreamAudit.UnboundedState), kinds(agg))
    assert(StreamAudit.audit(agg).head.detail.contains(
      "nothing to evict by"))
    // watermarked dropDuplicates without the event-time column among
    // the keys: the seen-key set still grows with the stream
    val dd = events.withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
    assert(kinds(dd) == Seq(StreamAudit.UnboundedState), kinds(dd))
    // the evictable forms are clean: the watermarked column itself
    // among the dedup keys, dropDuplicatesWithinWatermark, a RENAME of
    // the watermarked column (Alias inherits the watermark metadata,
    // and so does Spark's eviction), and the window()/session_window()
    // rewrites (TimeWindowing copies the metadata onto the window attr)
    assert(kinds(events.withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id", "ts")).isEmpty)
    assert(kinds(events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")).isEmpty)
    val renamed = events.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("event_time"))
      .groupBy("event_time", "user_id").count()
    assert(kinds(renamed).isEmpty, kinds(renamed))
    // sliding window() resolves through the Expand rewrite
    assert(kinds(EventStreams.sliding(events)).isEmpty)
    // a COMPUTED derivation of the watermarked column drops the
    // watermark metadata, and Spark's state store genuinely never
    // evicts such an aggregate (WatermarkSupport checks key-attribute
    // metadata) — the lint must fire, faithful to the engine, even
    // though the grouping "looks" time-based
    val derived = events.withWatermark("ts", "10 minutes")
      .select(col("user_id"),
        date_trunc("hour", col("ts")).as("ts_hour"))
      .groupBy("ts_hour", "user_id").count()
    assert(kinds(derived) == Seq(StreamAudit.UnboundedState),
      kinds(derived))
    assert(StreamAudit.audit(derived).head.detail.contains("metadata"))
    // dropDuplicatesWithinWatermark with NO watermark at all still fires
    val ddw = events.dropDuplicatesWithinWatermark("event_id")
    assert(kinds(ddw) == Seq(StreamAudit.UnboundedState), kinds(ddw))
  }

  test("no-state-timeout fires on flatMapGroupsWithState(NoTimeout)") {
    val found = StreamAudit.audit(AttributionStream.attributed(events).toDF())
    assert(found.map(_.kind) == Seq(StreamAudit.NoStateTimeout), found)
  }

  /** builder → the finding kinds its state design justifies, with the
    * written reason the state is bounded anyway. */
  private val allow: Map[String, (Set[String], String)] = Map(
    "s11_leaderboard" -> ((Set(StreamAudit.UnboundedState),
      "all-time top-k by DESIGN (complete mode): one running aggregate " +
        "row per event type — state bounded by the type domain, " +
        "deliberately never evicted")),
    "s10_funnel_live" -> ((Set(StreamAudit.NoStateTimeout),
      "4 longs per FUNNEL PARTICIPANT (non-funnel traffic filtered " +
        "before the stateful shuffle); funnel state is meaningful for " +
        "the user's lifetime, RocksDB-backed off-heap")),
    "s12_attribution" -> ((Set(StreamAudit.NoStateTimeout),
      "one fixed-size LastTouch row per user — the last-touch model " +
        "needs the latest click regardless of age, RocksDB-backed")),
    "cdc_tx_assembly" -> ((Set(StreamAudit.NoStateTimeout),
      "state keyed by BACKEND (one per configured source): the open " +
        "transaction's buffer plus a schema cache with one entry per " +
        "table. state.remove() fires only when no transaction is open " +
        "and the cache is empty, so after a schema line the key lives " +
        "for the stream's lifetime, bounded by the backend's table " +
        "count; the buffer tracks in-flight txs, not stream lifetime")),
    "cdc_binlog_carry" -> ((Set(StreamAudit.NoStateTimeout),
      "state keyed by backend; one tablemap row per table — bounded by " +
        "the schema count, not the stream")))

  test("the repo's own streaming surface is StreamAudit-clean modulo " +
      "the justified allowlist: every stateful operator carries an " +
      "eviction bound or a written reason its state is bounded") {
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
    val builders: Seq[(String, () => DataFrame)] = Seq(
      "s01_tumbling" -> (() => EventStreams.tumbling(events)),
      "s02_sliding" -> (() => EventStreams.sliding(events)),
      "s03_session" -> (() => EventStreams.sessions(events)),
      "s04_watermark" -> (() => EventStreams.lateDataCounts(events)),
      "s06_dedup" -> (() => EventStreams.dedup(events)),
      "s07_stream_join" -> (() => EventStreams.purchaseAttribution(events)),
      "s08_enrich" -> (() => EventStreams.enrich(events, dim)),
      "s09_stream_join_outer" ->
        (() => EventStreams.purchaseAttributionOuter(events)),
      "s09b_stream_join_full" ->
        (() => EventStreams.purchaseAttributionFull(events)),
      "s10_funnel_live" ->
        (() => FunnelStream.stageProgress(events).toDF()),
      "s11_leaderboard" -> (() => EventStreams.liveLeaderboard(events, 3)),
      "s12_attribution" ->
        (() => AttributionStream.attributed(events).toDF()),
      // the CDC streaming cores keep *GroupsWithState state too —
      // swept with the same discipline as the S surface
      "cdc_tx_assembly" -> (() => {
        implicit val sqlCtx = spark.sqlContext
        graft.streaming.CdcPipeline.run(
          MemoryStream[graft.cdc.CdcEvent].toDS(), emitTransaction = true)
      }),
      "cdc_binlog_carry" -> (() => {
        implicit val sqlCtx = spark.sqlContext
        graft.streaming.BinlogStream.envelopes(
          MemoryStream[BinlogLine].toDF(), Nil)
      }))
    val offenders = builders.flatMap { case (name, mk) =>
      val found =
        try StreamAudit.audit(mk())
        catch { case e: Throwable =>
          Seq(PlanAudit.Finding("plan-error", e.getMessage.take(80))) }
      val allowed = allow.get(name).map(_._1).getOrElse(Set.empty)
      found.filterNot(f => allowed.contains(f.kind))
        .map(f => s"$name: [${f.kind}] ${f.detail.take(90)}")
    }
    assert(offenders.isEmpty,
      "streaming state without an eviction bound (watermark it or " +
        "allowlist with the reason the state is bounded):\n" +
        offenders.mkString("\n"))
    // staleness: every allowlisted builder must still trip its kinds
    val stale = allow.toSeq.sortBy(_._1).flatMap { case (name, (ks, _)) =>
      val found = StreamAudit
        .audit(builders.toMap.apply(name)()).map(_.kind).toSet
      ks.diff(found).map(k => s"$name: allowlisted [$k] no longer fires")
    }
    assert(stale.isEmpty,
      "stale StreamAudit allowlist entries:\n" + stale.mkString("\n"))
  }
}
