package graft

import org.scalatest.funsuite.AnyFunSuite

/** DRIVER-ACTION BUDGET — the scale-checklist item the plan lints
  * cannot see: a `.collect()` materializes its frame in DRIVER memory,
  * so the only acceptable collects are constant-or-bounded-size by
  * construction (a one-row aggregate, k centroids between Lloyd
  * iterations, one BPE merge per round). This spec greps the main
  * source for DataFrame driver actions and holds every file to an
  * explicit budget with the written reason its actions are bounded —
  * a NEW collect (or one more than budgeted in an allowlisted file)
  * fails by name, turning "no driver-side loops over collect()" from
  * a per-round manual audit into a standing invariant.
  *
  * `.count()`/`.show()` are not matched: both are one-row/console by
  * construction. Scala collection `.collect { ... }` takes a partial
  * function and never matches the empty-paren pattern. */
class DriverActionSpec extends AnyFunSuite {

  /** file basename → (reason the actions are bounded, max occurrences). */
  private val budget: Map[String, (String, Int)] = Map(
    "PlanAudit.scala" ->
      (("one-row count/count-distinct aggregate per measured lint " +
        "subplan"), 1),
    "BucketedScan.scala" ->
      (("one three-column (count,min,max) aggregate row sizing the " +
        "bucket domain"), 1),
    "CdcOps.scala" ->
      (("one-row max(key) aggregates guarding epoch/key-space " +
        "assumptions before composing fixtures"), 4),
    "SimilarityOps.scala" ->
      (("k centroid rows collected between Lloyd iterations and as " +
        "assignment tables — constant (k<=8) for the literal-array " +
        "entries, k<=ceil(sqrt(n)) (sub-linear, ~1.4k rows / KBs at " +
        "the 2M top rung) for q23_semdedup_adaptive's broadcast side"), 5),
    "TextOps.scala" ->
      (("one merge-pair row per BPE training round, a one-row corpus " +
        "total, and two one-row error measurements (quantile rank " +
        "error, compress roundtrip fail fraction) for approx_err.json"), 4),
    "IndexOps.scala" ->
      (("one-row (N, avgdl) corpus-stats aggregate for BM25"), 1),
    "Relational.scala" ->
      (("the q19k overflow guard collects |event_type| cohort sizes " +
        "(bounded enum domain) + two one-row error measurements (q04b/" +
        "q04c max sketch relative error) for approx_err.json"), 3),
    "DedupOps.scala" ->
      (("one-row (count, bit_xor) index fingerprint for the " +
        "incremental-dedup idempotence check"), 1))

  private val action =
    """\.collect\(\)|\.head\(\)|\.collectAsList|\.toLocalIterator""".r

  test("every DataFrame driver action in main source is inside an " +
      "allowlisted file's budget, with the reason its size is bounded " +
      "— a new collect() ships only with a written justification here") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"main source root not found from ${System.getProperty("user.dir")}")
    val hits = scala.collection.mutable.Map
      .empty[String, Vector[(Int, String)]]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val name = p.getFileName.toString
        // readAllBytes + String replaces malformed sequences instead of
        // throwing (sources are UTF-8; the JVM default charset may not be)
        new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator.zipWithIndex.foreach { case (line, i) =>
            val t = line.trim
            val comment = t.startsWith("//") || t.startsWith("*") ||
              t.startsWith("/*")
            if (!comment && action.findFirstIn(line).isDefined)
              hits(name) = hits.getOrElse(name, Vector.empty) :+
                ((i + 1, t.take(90)))
          }
      }
    }
    val offenders = hits.toSeq.sortBy(_._1).flatMap { case (file, occ) =>
      budget.get(file) match {
        case None =>
          occ.map { case (ln, t) => s"$file:$ln (unbudgeted file): $t" }
        case Some((_, max)) if occ.size > max =>
          occ.map { case (ln, t) =>
            s"$file:$ln (${occ.size} actions > budget $max): $t" }
        case _ => Nil
      }
    }
    assert(offenders.isEmpty,
      "driver actions outside the documented budget (bound the size " +
        "or budget the file with the reason):\n" +
        offenders.mkString("\n"))
    // staleness: a file that shed its driver actions sheds its budget
    val stale = budget.keys.filterNot(hits.contains).toSeq.sorted
    assert(stale.isEmpty, s"stale driver-action budgets: $stale")
    // positive control: the sweep must actually see the known sites
    assert(hits.values.map(_.size).sum >= 10,
      s"only ${hits.values.map(_.size).sum} driver actions found — " +
        "the grep lost the sources")
  }
}
