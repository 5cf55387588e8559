package graft.sinks

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Test sink: collects rows in-process (the replacement for the
  * reference's live-DB assertions — SURVEY.md §5). Specs hand it to
  * `SinkRegistry.attach` directly; no config kind names it. */
class CollectingSink extends EventSink {
  val name = "collect"
  val rows = new ConcurrentLinkedQueue[Row]()
  def write(batch: DataFrame, batchId: Long): Unit =
    batch.collect().foreach(rows.add)
  def collected: Seq[Row] = rows.asScala.toSeq
}
