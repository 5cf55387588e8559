package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** Deterministic jsoncdc traffic of one backend, the shape
  * `pg_recvlogical` writes: begin / schema / insert / update / delete /
  * commit lines, with `seq` stamped in stream order. The same seed gives
  * the same lines. Besides the lines it keeps the ground truth the
  * output is checked against: which lines must come out, and each
  * transaction's items in seq order. */
final class Capture(seed: Long, val backend: String = "pg1") {
  private val rnd = new java.util.Random(seed)
  private val tables = Array("customers", "orders", "payments")
  private val live = Array.fill(tables.length)(ArrayBuffer.empty[Long])
  private val nextPk = Array.fill(tables.length)(1L)
  private var seq = 0L
  private var txId = 1000L
  private var tempTable = 0

  /** Lines that must reach the output (all but excluded/pg_temp noise). */
  val expectedSeqs = ArrayBuffer.empty[Long]
  /** Committed transactions: id → the seqs of its items, in order. */
  val expectedTx = ArrayBuffer.empty[(Long, Array[Long])]
  var lines = 0L


  private def word(n: Int): String = {
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb += ('a' + rnd.nextInt(26)).toChar)
    sb.result()
  }

  private def row(pk: Long): String =
    s"""{"id": $pk, "name": "${word(6)}", "amount": ${rnd.nextInt(100000)}, "note": "${word(8 + rnd.nextInt(40))}"}"""

  private def emit(out: ArrayBuffer[(Long, String)], line: String,
      kept: Boolean): Long = {
    seq += 1
    lines += 1
    if (kept) expectedSeqs += seq
    out += ((seq, line))
    seq
  }

  /** One transaction with `nDml` changes, plus noise rows the daemon
    * must drop before its state (excludeTables, pg_temp_*). */
  def transaction(nDml: Int, out: ArrayBuffer[(Long, String)]): Unit = {
    txId += 1
    val id = txId
    val items = ArrayBuffer.empty[Long]
    emit(out, s"""{"begin": $id}""", kept = true)
    (0 until nDml).foreach { _ =>
      val t = rnd.nextInt(tables.length)
      val name = tables(t)
      val pks = live(t)
      if (rnd.nextInt(50) == 0)
        emit(out, s"""{"schema": {"id": "int8", "name": "text", "amount": "int4", "note": "text", "v": "int4"}, "table": "$name"}""", kept = true)
      val r = rnd.nextInt(100)
      val line =
        if (pks.isEmpty || r < 60) {
          val pk = nextPk(t); nextPk(t) += 1; pks += pk
          s"""{"insert": ${row(pk)}, "table": "$name"}"""
        } else if (r < 85) {
          s"""{"update": ${row(pks(rnd.nextInt(pks.size)))}, "table": "$name"}"""
        } else {
          val i = rnd.nextInt(pks.size)
          val pk = pks(i)
          pks(i) = pks.last; pks.remove(pks.size - 1)
          s"""{"delete": true, "@": {"id": $pk, "name": null, "amount": null, "note": null}, "table": "$name"}"""
        }
      items += emit(out, line, kept = true)
      rnd.nextInt(20) match {
        case 0 => emit(out, s"""{"insert": ${row(rnd.nextInt(1000).toLong)}, "table": "${Capture.excluded}"}""", kept = false)
        case 1 =>
          tempTable += 1
          emit(out, s"""{"insert": {"id": $tempTable}, "table": "pg_temp_$tempTable"}""", kept = false)
        case _ =>
      }
    }
    val ts = f"2024-01-${1 + (id / 86400) % 28}%02d ${(id / 3600) % 24}%02d:${(id / 60) % 60}%02d:${id % 60}%02d"
    emit(out, s"""{"commit": $id, "t": "$ts"}""", kept = true)
    expectedTx += ((id, items.toArray))
  }

  /** The next `nLines` of the change stream: mostly small transactions,
    * now and then a large one. A capture file is a flush of the stream
    * cut at a line count, so a large transaction spans several files and
    * stays open across triggers. */
  private val pending = ArrayBuffer.empty[(Long, String)]
  def streamLines(nLines: Int, bigTx: Int): ArrayBuffer[(Long, String)] = {
    while (pending.size < nLines)
      if (rnd.nextInt(150) == 0) transaction(bigTx, pending)
      else transaction(1 + rnd.nextInt(8), pending)
    val out = pending.take(nLines)
    pending.remove(0, nLines)
    out
  }

  /** What is left of the stream: the rest of an open transaction. */
  def flush(): ArrayBuffer[(Long, String)] = {
    val out = pending.clone()
    pending.clear()
    out
  }

  /** Capture-layer file body: one (backend, seq, line) JSON per line. */
  def render(ls: Seq[(Long, String)]): Array[Byte] = {
    val sb = new StringBuilder
    ls.foreach { case (s, l) =>
      sb ++= s"""{"backend": "$backend", "seq": $s, "line": """"
      l.foreach { c =>
        if (c == '"' || c == '\\') sb += '\\'
        sb += c
      }
      sb ++= "\"}\n"
    }
    sb.result().getBytes(UTF_8)
  }
}

object Capture {
  /** The table the daemon is configured to exclude. */
  val excluded = "audit_log"

  /** Write `body` beside `dir`, then move it in atomically, so the file
    * source never lists a half-written file. */
  def publish(staging: Path, dir: Path, name: String, body: Array[Byte]): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, body)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
