package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  private[graft] def jsonQ(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Carried (prior, not re-measured this run) approx_err entries,
    * re-rendered against the CURRENT inventory: the recorded bound is
    * rewritten from `currentBounds` and the entry tagged
    * `"carried": true`. Before this, a subset Verify after a
    * code-side bound TIGHTENING carried the old looser bound
    * verbatim, and the next unrestricted check.py validated the
    * stale measurement against it — the invariant "a stale file can
    * never be validated against newer code" held only for full runs
    * (r13 ADVICE). Prior entries whose key left the inventory are
    * dropped (the manifest check only asserts presence of EXPECTED
    * keys). Pure (maps in, rendered JSON bodies out) so
    * VerifyMergeSpec can exercise it without a Spark run. */
  private[graft] def carryForward(prior: Map[String, String],
      freshKeys: Set[String],
      currentBounds: Map[String, Double]): Map[String, String] =
    (prior -- freshKeys).flatMap { case (name, body) =>
      currentBounds.get(name).map { bound =>
        val err = try {
          import org.json4s._
          org.json4s.jackson.JsonMethods.parse(body) \ "err" match {
            case JNothing | JNull => "null"
            case v => org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(v))
          }
        } catch { case _: Throwable => "null" }
        name -> s"{${jsonQ("err")}: $err, ${jsonQ("bound")}: $bound, ${
          jsonQ("carried")}: true}"
      }
    }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump for local iteration; the driver always calls with exactly two
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Harness.dropPinnedRdds(spark)
    }
    def q(s: String): String = jsonQ(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the FULL approx-entry inventory, independent of `only`: the
    // manifest tools/check.py validates approx_err.json's KEYS against
    // on unrestricted runs — without it, a subset Verify that rewrote
    // the file with fewer entries would pass the next full gate run on
    // whatever keys remained (the r12 ADVICE's silent-drop hole: the
    // missing-file check alone cannot see missing ENTRIES)
    Files.writeString(Paths.get(s"$outDir/approx_manifest.json"),
      SparkEntry.approxErrors.keys.toSeq.sorted
        .map(q).mkString("[", ",", "]"))
    // measured numeric error of the rows-only sketch/codec entries —
    // the artifact that certifies the sketches, not just their shape
    // (tools/check.py fails on a measurement over its bound). A FULL
    // run rewrites the file from scratch (prior deleted first, so a
    // crash mid-measure leaves no stale file to validate against newer
    // code); a SUBSET run MERGES its measurements over the prior file
    // instead of replacing it — before this, `Verify out sf q01_scan`
    // clobbered a complete file with `{}` and the next unrestricted
    // check.py iterated zero entries and passed with every sketch
    // certification silently gone. A THROWING measurement is recorded
    // as an explicit err=null entry that check.py counts as FAIL — a
    // regression that crashes the measurement must fail the gate, not
    // silently drop its cert.
    val errPath = Paths.get(s"$outDir/approx_err.json")
    val prior: Map[String, String] =
      if (only.isEmpty || !Files.exists(errPath)) Map.empty
      else try {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(
            Files.readString(errPath)) match {
          case JObject(fields) => fields.map { case (k, v) =>
            k -> org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(v))
          }.toMap
          case _ => Map.empty
        }
      } catch { case _: Throwable => Map.empty }
    Files.deleteIfExists(errPath)
    val fresh = SparkEntry.approxErrors.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, (bound, fn)) =>
        val e = try fn(spark, sfDir).toString
          catch { case ex: Throwable =>
            System.err.println(s"[verify] $name error measure failed: " +
              ex.getMessage)
            "null"
          } finally Harness.dropPinnedRdds(spark)
        name -> s"{${q("err")}: $e, ${q("bound")}: $bound}"
      }.toMap
    // carried entries re-rendered against the CURRENT inventory —
    // see carryForward above (r13 ADVICE)
    val carriedPrior: Map[String, String] = carryForward(prior,
      fresh.keySet,
      SparkEntry.approxErrors.map { case (k, (b, _)) => k -> b })
    val errs = (carriedPrior ++ fresh).toSeq.sortBy(_._1)
      .map { case (name, body) => s"${q(name)}: $body" }
    Files.writeString(errPath, errs.mkString("{", ",", "}"))
    spark.stop()
  }
}
