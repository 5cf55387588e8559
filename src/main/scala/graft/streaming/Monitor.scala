package graft.streaming

import java.util.UUID
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Stream observability — the reference's two monitoring surfaces mapped
  * onto Structured Streaming:
  *
  *  - O5 stderr classifier (postgresql.js:192-229): pg_recvlogical's
  *    human-readable diagnostics classified into error / status /
  *    disconnected events by their first three characters. Here the
  *    classifier runs over stream-termination diagnostics and any
  *    capture-layer message a caller feeds it.
  *  - O23 health ping (mysql.js:291-303 — {latency, connected, host}):
  *    derived from streaming query progress instead of a live socket —
  *    last trigger latency, rows, and whether the query is still running.
  */
object StreamDiagnostics {

  /** Classify one diagnostic line exactly like the reference's
    * stdErrorToEvent prefix chain (postgresql.js:203-224). Returns
    * (eventType, message) or None for ignorable lines. */
  def classify(line: String): Option[(String, String)] = {
    val str = line.trim
    if (str.isEmpty) None
    else {
      val firstThree = str.take(3)
      val eventType =
        if (firstThree == "cou" || firstThree == "unr" ||
            firstThree == "une" || firstThree == "sel") Some("error")
        else if (firstThree == "con" || firstThree == "sta") Some("status")
        else if (firstThree == "dis") Some("disconnected")
        else if (str == "streaming initiated") Some("status")
        else if (str == "streaming header too small") Some("error")
        else None
      eventType.map(t => (t, str))
    }
  }
}

/** Rolling health snapshot for one streaming query — the ping payload. */
case class QueryHealth(
    name: String,
    batches: Long,
    rows: Long,
    lastLatencyMs: Long,
    connected: Boolean,
    lastEvent: String)

/** O5/O23 — a StreamingQueryListener that keeps a per-query health map
  * and logs progress; attach once per session (cli.Main does). Each
  * trigger's line carries its latency, the `addBatch` phase, and the
  * state-store instance count and commit ms summed over the query's
  * stateful operators (0 for a stateless query). `log` is injectable so
  * tests capture lines instead of reading stderr. */
class GraftQueryListener(log: String => Unit = s => Console.err.println(s))
    extends StreamingQueryListener {

  private val state = TrieMap.empty[UUID, QueryHealth]

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    state.put(e.id, QueryHealth(
      Option(e.name).getOrElse(e.id.toString), 0, 0, 0,
      connected = true, "started"))
    log(s"[graft] query ${e.name} (${e.id}) started")
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def phaseMs(k: String) =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val latency = phaseMs("triggerExecution")
    val prev = state.getOrElse(p.id, QueryHealth(
      Option(p.name).getOrElse(p.id.toString), 0, 0, 0, true, ""))
    state.put(p.id, prev.copy(
      batches = prev.batches + 1,
      rows = prev.rows + p.numInputRows,
      lastLatencyMs = latency,
      connected = true,
      lastEvent = "progress"))
    log(s"[graft] ${prev.name} batch=${p.batchId} " +
      s"rows=${p.numInputRows} latencyMs=$latency " +
      s"addBatchMs=${phaseMs("addBatch")} " +
      s"stateStores=${p.stateOperators.map(_.numStateStoreInstances).sum} " +
      s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).sum}")
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val kind = e.exception match {
      case Some(msg) =>
        StreamDiagnostics.classify(msg).map(_._1).getOrElse("error")
      case None => "disconnected"
    }
    state.get(e.id).foreach { h =>
      state.put(e.id, h.copy(connected = false, lastEvent = kind))
    }
    log(s"[graft] query ${e.id} terminated ($kind)" +
      e.exception.map(m => s": $m").getOrElse(""))
  }

  /** O23 ping: current health of every observed query. */
  def health: Seq[QueryHealth] = state.values.toSeq
}
