package graft.cdc

/** Canonical change-event domain model (SURVEY.md §1.1, mirroring the
  * envelope the reference builds at postgresql.js:471-485).
  *
  * `item`/`oldImage`/`schemaJson` stay raw JSON strings: CDC schemas are
  * dynamic and out-of-band (the reference caches `schema` lines per table,
  * postgresql.js:430-436); a typed view is applied lazily per table with
  * from_json at query time.
  */
case class CdcEvent(
    backend: String,
    seq: Long,
    kind: String,
    table: String,
    item: String,
    oldImage: String,
    schemaJson: String,
    beginId: Option[Long],
    commitId: Option[Long],
    commitTs: Option[java.sql.Timestamp],
    pk: String)

/** One DML item inside an assembled transaction. */
case class TxItem(seq: Long, kind: String, table: String, pk: String,
    item: String)

/** Open-transaction buffer carried between microbatches.
  *
  * STATE-FORMAT NOTE: the newest-first representation below changed the
  * meaning (not the schema) of checkpointed state — a checkpoint written
  * by a build that stored oldest-first would replay open-transaction
  * items reversed after upgrade. Restart streams from a fresh checkpoint
  * (or drain open transactions first) when crossing that boundary.
  *
  * `buffered` is stored NEWEST-FIRST (prepend
  * is O(1) on the underlying List; the reference's push, postgresql.js
  * :482-484, is an array append) and reversed once at commit-emit —
  * appending with `:+` instead would be O(n) per DML and O(n²) per
  * transaction. */
case class TxState(currentTxId: Option[Long], buffered: Seq[TxItem])

/** Combined streaming-pipeline state: the open-transaction buffer plus the
  * per-table schema cache (O13 — the reference keeps both on the same
  * single-threaded worker: schema cache postgresql.js:430-436, tx buffer
  * postgresql.js:18-33). One keyed state per backend holds both so the
  * stream shuffles once, not once per concern. */
case class PipeState(tx: TxState, schemas: Map[String, String])

/** Fully-dispatched envelope: a CdcEvent stamped with the latest cached
  * schema for its table and the surrounding transaction id; assembled
  * `transaction` rows (kind = "transaction") carry their items in
  * `txItems`. */
case class EnvelopeEvent(
    backend: String,
    seq: Long,
    kind: String,
    table: String,
    pk: String,
    item: String,
    oldImage: String,
    schema: String,
    beginId: Option[Long],
    commitId: Option[Long],
    commitTs: Option[java.sql.Timestamp],
    txId: Option[Long],
    txItems: Seq[TxItem])
