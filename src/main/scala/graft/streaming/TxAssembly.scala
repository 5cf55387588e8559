package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.cdc.CdcEvent

/** The decode step in front of transaction assembly: raw capture lines
  * to typed change events. The assembly itself — the reference's
  * DatabaseTransaction buffer (postgresql.js:18-33, begin 447-450,
  * push 427-429/482-484, commit-emit 462-465) — is one of the concerns
  * of the keyed stateful operator in [[CdcPipeline]].
  */
object TxAssembly {

  /** Decode a raw line frame (backend, seq, line) into Dataset[CdcEvent],
    * applying the pg_temp/excludeTables filters BEFORE any stateful op —
    * the reference returns early for filtered tables so they never reach
    * the tx buffer either (postgresql.js:386-397). Shared by the
    * file/Kafka stream builders and tests. */
  def decodeToEvents(
      lines: org.apache.spark.sql.DataFrame,
      excludeTables: Seq[String] = Nil): Dataset[CdcEvent] = {
    implicit val enc = Encoders.product[CdcEvent]
    graft.cdc.JsonCdc.filterTables(
        graft.cdc.JsonCdc.decode(lines), excludeTables)
      .select(
        col("backend"), col("seq"), col("kind"), col("table"),
        col("item"), col("old_image").as("oldImage"),
        col("schema_json").as("schemaJson"),
        col("begin_id").as("beginId"), col("commit_id").as("commitId"),
        col("commit_ts").as("commitTs"), col("pk"))
      .as[CdcEvent]
  }
}
