package graft.cli

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{Harness, SparkEntry}
import graft.sinks.SinkRegistry
import graft.streaming.CdcStream
import graft.subscribe._

/** Daemon entry point mirroring the reference CLI (index.js:5-53):
  * `-c config.json` starts one streaming query per configured backend;
  * `-t` parses + validates the config and exits.
  *
  * Config JSON shape (source × wire preferred; legacy fused "kind"
  * still accepted):
  * {"backends": [{"name": "pg1", "source": "file", "wire": "jsoncdc",
  *   "options": {"path": "/data/cdc"}, "excludeTables": ["audit"],
  *   "emit": {"emitEvents": true, "emitSchema": false},
  *   "sinks": [{"kind": "console"}]}]}
  */
object Main {

  def parseConfig(json: String): EngineConfig = {
    implicit val fmts: Formats = DefaultFormats
    // malformed JSON throws a /Parse/-matching message, not a raw
    // Jackson stack (reference: config.test.js:8-12 asserts this)
    val ast =
      try JsonMethods.parse(json)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"Parse error in config JSON: ${e.getMessage}") }
    val backends = (ast \ "backends") match {
      case JArray(items) => items.map { b =>
        BackendConfig(
          name = (b \ "name").extractOrElse[String](""),
          kind = (b \ "kind").extractOrElse[String](""),
          options = (b \ "options").extractOrElse[Map[String, String]](Map()),
          excludeTables =
            (b \ "excludeTables").extractOrElse[Seq[String]](Nil),
          emit = (b \ "emit").extractOrElse[EmitFlags](EmitFlags()),
          sinks = (b \ "sinks") match {
            case JArray(ss) => ss.map(sc => SinkConfig(
              (sc \ "kind").extractOrElse[String](""),
              (sc \ "options").extractOrElse[Map[String, String]](Map()),
              (sc \ "kinds").extractOrElse[Seq[String]](Nil)))
            case _ => Seq(SinkConfig("console"))
          },
          source = (b \ "source").extractOrElse[String](""),
          wire = (b \ "wire").extractOrElse[String](""))
      }
      case _ => Nil
    }
    EngineConfig(backends)
  }

  /** `--audit-lowcard` value extraction, strict: the flag REQUIRES a
    * comma-separated column list as the next token. Positional
    * leniency bit r6 users twice — a trailing flag silently dropped
    * the audit, and a following flag was consumed as the column list. */
  private[cli] def parseLowCard(rawArgs: Array[String])
      : Either[String, Set[String]] = {
    val lcIdx = rawArgs.indexOf("--audit-lowcard")
    if (lcIdx < 0) Right(Set.empty)
    else if (lcIdx + 1 >= rawArgs.length)
      Left("--audit-lowcard requires a comma-separated column list " +
        "(e.g. --audit-lowcard event_type,lang) — none given")
    else if (rawArgs(lcIdx + 1).startsWith("--"))
      Left("--audit-lowcard requires a comma-separated column list, " +
        s"got the flag '${rawArgs(lcIdx + 1)}'")
    else
      Right(rawArgs(lcIdx + 1).split(",").map(_.trim)
        .filter(_.nonEmpty).toSet)
  }

  /** `-q <name> <sfDir> [limit] [--audit] [--audit-lowcard c1,c2]
    * [--explain] [--profile] [--audit-measure]` — run one named query
    * from the engine's inventory
    * against a parquet table directory and print the head of the
    * result plus its wall time: the ad-hoc face of the library (the
    * daemon covers streaming). `-q list` prints the inventory.
    * `--audit` additionally runs [[graft.plans.PlanAudit]] over the
    * physical plan and prints each scale-risk finding (cartesians,
    * nested-loop joins, unpartitioned windows, Scala UDFs) next to the
    * timing —
    * the same lint the repo's own PlanShapeSpec enforces, surfaced for
    * ad-hoc users before they schedule the query. `--audit-lowcard`
    * names the caller's bounded-domain columns (cardinality is a DATA
    * property the lint can't infer) and adds the skewed-window check:
    * any window partitioned only by those columns over non-summary
    * rows. `--explain` prints the plan's cost card WITHOUT executing
    * it — the [[graft.plans.PlanSignature]] operator counts, the
    * exchange totals, and the audit findings: the repo's own
    * plan-discipline tooling as a user-facing preflight. `--profile`
    * is `--explain`'s measured sibling: run the query ONCE (fully
    * materialized, nothing collected), then print rows/bytes through
    * every operator of the final adaptive plan
    * ([[graft.plans.PlanProfile]]) — which shuffle dominates, what
    * each filter cut, at this directory's scale. `--audit-measure` is
    * the measured lint: execute every Window input and every Join's
    * inputs+output on the given directory (counts only) and print the
    * per-node cardinalities — distinct partition keys vs rows for
    * windows (the bounded-key skew class), output-vs-input blowup for
    * joins (the many-to-many fanout class) — plus the findings the
    * repo's own sweep would raise at those thresholds. Point it at a
    * small representative sample of production data: the ratios are
    * scale-free, the counts cost one job per distinct subplan.
    * `--scaling` measures the query at the sibling sf0.001/sf0.01/
    * sf0.1 directories and fits the WORK growth exponent (see
    * [[scalingReport]]). The same flags compose with `-e "<sql>"` —
    * ad-hoc SQL over the registered tables through identical report
    * paths ([[adhocFrame]]). */
  private case class ReportFlags(doAudit: Boolean, doExplain: Boolean,
      doProfile: Boolean, doMeasure: Boolean, doScaling: Boolean,
      lowCard: Set[String], cdcPath: Option[String], cdcWire: String,
      positional: Seq[String])

  /** Wire formats `--cdc-wire` accepts — one per capture normalizer
    * the daemon already speaks (jsoncdc = PostgreSQL logical decoding,
    * binlog = MySQL row events, oplog = MongoDB). */
  private[cli] val cdcWires = Seq("jsoncdc", "binlog", "oplog")

  /** Strip the report flags out of `rawArgs` (exit(1) on a malformed
    * `--audit-lowcard` / `--cdc`), leaving the positional arguments.
    * Shared by `-q` and `-e` so both faces of the CLI carry the same
    * audit tooling. */
  private def parseReportFlags(rawArgs: Array[String]): ReportFlags = {
    val lowCard: Set[String] = parseLowCard(rawArgs) match {
      case Right(cols) => cols
      case Left(err) =>
        System.err.println(err)
        sys.exit(1)
    }
    val lcIdx = rawArgs.indexOf("--audit-lowcard")
    // --cdc is strict like --audit-lowcard: it REQUIRES a path token
    // (a following flag must not be consumed as the path)
    val cdcIdx = rawArgs.indexOf("--cdc")
    val cdcPath: Option[String] =
      if (cdcIdx < 0) None
      else rawArgs.drop(cdcIdx + 1).headOption.filterNot(_.startsWith("--"))
        .orElse {
          System.err.println(
            "--cdc requires a capture-file path (LDJSON) as the next " +
              "argument")
          sys.exit(1)
        }
    // --cdc-wire routes the capture through the matching normalizer;
    // strict like --cdc (requires a value, and only a known one — a
    // typo must not silently decode a binlog capture as jsoncdc)
    val wireIdx = rawArgs.indexOf("--cdc-wire")
    val cdcWire: String =
      if (wireIdx < 0) "jsoncdc"
      else rawArgs.drop(wireIdx + 1).headOption.filter(cdcWires.contains)
        .getOrElse {
          System.err.println("--cdc-wire requires one of " +
            cdcWires.mkString("|") + " as the next argument")
          sys.exit(1)
        }
    val positional = rawArgs.zipWithIndex.collect {
      case (a, i) if a != "--audit" && a != "--explain" &&
        a != "--profile" && a != "--audit-measure" && a != "--scaling" &&
        (lcIdx < 0 || (i != lcIdx && i != lcIdx + 1)) &&
        (cdcIdx < 0 || (i != cdcIdx && i != cdcIdx + 1)) &&
        (wireIdx < 0 || (i != wireIdx && i != wireIdx + 1)) => a
    }
    ReportFlags(rawArgs.contains("--audit"), rawArgs.contains("--explain"),
      rawArgs.contains("--profile"), rawArgs.contains("--audit-measure"),
      rawArgs.contains("--scaling"), lowCard, cdcPath, cdcWire,
      positional.toSeq)
  }

  /** The optional trailing [limit] positional — a non-numeric token
    * (a mistyped flag, a stray argument) gets the usage message, not a
    * raw NumberFormatException stack. */
  private def parseLimit(rest: Seq[String], usage: => Unit): Int =
    rest.headOption match {
      case None => 20
      case Some(tok) => tok.toIntOption.getOrElse {
        System.err.println(s"expected a numeric [limit], got '$tok'")
        usage
        sys.exit(1)
      }
    }

  private def querySession(): SparkSession = {
    val spark = Harness.cliSession("graft-query")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One frame through the selected report path — the shared back end
    * of `-q` (named inventory query) and `-e` (ad-hoc SQL). */
  private def runReports(df: org.apache.spark.sql.DataFrame, name: String,
      limit: Int, f: ReportFlags): Unit = {
    if (f.doExplain) explainReport(df, name, f.lowCard).foreach(println)
    else if (f.doProfile) profileReport(df, name).foreach(println)
    else if (f.doMeasure) measuredAuditReport(df, name).foreach(println)
    else {
      val t0 = System.nanoTime()
      df.show(limit, truncate = false)
      println(f"[graft] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (f.doAudit || f.lowCard.nonEmpty)
        auditReport(df, f.lowCard).foreach(println)
    }
  }

  /** `--scaling` report: measure the query at the sibling
    * sf0.001/sf0.01/sf0.1 directories of `sfDir` and fit the WORK
    * growth exponent ([[graft.plans.ScalingAudit]]; wall time is
    * reported but not fitted — added work hides behind added cores
    * exactly when the data grows) — the
    * empirical "would this survive 100×" answer, per query, on
    * demand. The full risk-list sweep (and the checked-in table the
    * drift gate compares against) lives in [[graft.ScalingSweep]]. */
  private[cli] def scalingReport(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String): Seq[String] = {
    import graft.plans.ScalingAudit
    val parent = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(s => Option(parent).map(_.resolve(s)))
      .collect { case Some(p)
        if java.nio.file.Files.isDirectory(p) => p.toString }
    if (dirs.size < 3)
      return Seq("[graft] scaling: needs the sibling sf0.001/sf0.01/" +
        s"sf0.1 directories next to $sfDir (found ${dirs.size})")
    // the scale axis is the query's MEASURED primary-table rows when
    // the inventory map knows it (the fixture's documents/embeddings
    // tables do NOT grow 10x per directory); ad-hoc / unmapped queries
    // assume a decade per directory, with the caveat printed
    val sizes = graft.ScalingSweep.primaryTable.get(name).map(t =>
      dirs.map(d => spark.read.parquet(s"$d/$t.parquet").count()))
      .getOrElse(Nil)
    val f = ScalingAudit.fit(spark, name, fn, dirs, sizes = sizes)
    val times = f.points.map { p =>
      f"${java.nio.file.Paths.get(p.dir).getFileName}%s " +
        f"${p.wallSec}%.2fs wall / ${p.workSec}%.2fs work"
    }.mkString(" -> ")
    val scaleLine =
      if (sizes.nonEmpty) s"[graft] input scale: " +
        s"${graft.ScalingSweep.primaryTable(name)} rows " +
        sizes.mkString(" -> ")
      else "[graft] input scale: assumed 10x per directory (query not " +
        "in the inventory scale map)"
    val bound = graft.ScalingSweep.bounds.getOrElse(name, 1.6)
    val verdict = f.exponent match {
      case Some(e) => f"[graft] work exponent: $e%.2f (bound $bound%.2f)"
      case None => "[graft] work exponent: unfit — degenerate scale " +
        "step or data term below the noise floor (see input scale " +
        "and work numbers above)"
    }
    Seq(s"[graft] scaling $name: $times", scaleLine, verdict) ++
      ScalingAudit.auditExponents(Seq(f), bounds = graft.ScalingSweep.bounds)
        .map(x => s"[graft] finding: [${x.kind}] ${x.detail}")
  }

  private def qUsage(): Unit =
    System.err.println(
      "usage: graft.cli.Main -q <name|list> <sfDir> [limit] " +
        "[--audit] [--audit-lowcard col1,col2,...] [--explain] " +
        "[--profile] [--audit-measure] [--scaling]")

  private def runQuery(rawArgs: Array[String]): Unit = {
    val flags = parseReportFlags(rawArgs)
    flags.positional match {
      case Seq("list") =>
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case Seq(name, sfDir, rest @ _*) =>
        val fn = SparkEntry.queries.getOrElse(name, {
          System.err.println(
            s"unknown query '$name' — `-q list` prints the inventory")
          sys.exit(1)
        })
        val limit = parseLimit(rest, qUsage())
        val spark = querySession()
        if (flags.doScaling)
          scalingReport(spark, name, fn, sfDir).foreach(println)
        else runReports(fn(spark, sfDir), name, limit, flags)
        spark.stop()
      case _ =>
        qUsage()
        sys.exit(1)
    }
  }

  /** The `-e` frame: every TESTDATA table of `sfDir` registered as a
    * temp view (`events` in its normalized integer-µs form — the shape
    * every inventory query reads), then the user's SQL planned over
    * them. Split from [[runSql]] so specs drive ad-hoc SQL through the
    * same report paths without the CLI's session lifecycle. */
  private[cli] def adhocFrame(spark: SparkSession, sql: String,
      sfDir: String, cdcPath: Option[String] = None,
      cdcWire: String = "jsoncdc")
      : org.apache.spark.sql.DataFrame = {
    graft.Tables.registerAll(spark, sfDir)
    graft.Tables.events(spark, sfDir).createOrReplaceTempView("events")
    cdcPath.foreach(p => registerCdcView(spark, p, cdcWire))
    spark.sql(sql)
  }

  /** `--cdc <capture.ldjson> [--cdc-wire jsoncdc|binlog|oplog]`: the
    * user's OWN capture file, decoded by the real normalizer for its
    * wire and registered as temp view `cdc` — so the cdc14-style trust
    * checks (orphan rows, kind mix, pk coverage, tx boundaries) run as
    * ad-hoc `-e` SQL against production captures, not only the
    * inventory's synthetic fixture. Every wire shares the envelope
    * core (seq — file order; text splits keep it monotone — kind,
    * table, pk, item) plus its wire-specific columns:
    *
    *   - jsoncdc ([[graft.cdc.JsonCdc.decode]]): old_image,
    *     schema_json, begin_id, commit_id, commit_ts; pg_temp noise
    *     dropped exactly as the stream path drops it;
    *   - binlog ([[graft.cdc.BinlogCdc.decode]]): schema, row_idx
    *     (row order within a multi-row statement); the stateful
    *     tablemap pk carry runs exactly as in the batch replay path;
    *   - oplog ([[graft.cdc.OplogCdc.decode]]): ns/db/collection,
    *     subject, ts (oplog seconds).
    *
    * User table exclusions stay in SQL (`WHERE "table" <> ...`) where
    * the operator can see them. */
  private[cli] def registerCdcView(spark: SparkSession,
      path: String, wire: String = "jsoncdc"): Unit = {
    import org.apache.spark.sql.functions._
    val lines = spark.read.text(path)
      .select(col("value").as("line"))
      .withColumn("seq", monotonically_increasing_id())
    val decoded = wire match {
      case "jsoncdc" =>
        graft.cdc.JsonCdc.filterTables(
          graft.cdc.JsonCdc.decode(lines), excludeTables = Nil)
      case "binlog" => graft.cdc.BinlogCdc.decode(lines)
      case "oplog" =>
        // the oplog envelope names its collection `ns`; alias a
        // `table` column so wire-generic trust-check SQL ports
        graft.cdc.OplogCdc.decode(lines)
          .withColumn("table", col("collection"))
      case other => throw new IllegalArgumentException(
        s"--cdc-wire: $other (expected ${cdcWires.mkString("|")})")
    }
    decoded.createOrReplaceTempView("cdc")
  }

  /** `-e "<sql>" <sfDir> [limit] [--audit] [--audit-lowcard c1,c2]
    * [--explain] [--profile] [--audit-measure]` — ad-hoc SQL over the
    * registered tables through the SAME audit tooling as `-q`: the
    * 100 TB consumer composes their own queries, and the cost card /
    * measured lint must not be reserved for the named inventory. */
  private def sUsage(): Unit =
    System.err.println(
      "usage: graft.cli.Main -e \"<sql>\" <sfDir> [limit] " +
        "[--audit] [--audit-lowcard col1,col2,...] [--explain] " +
        "[--profile] [--audit-measure] [--scaling] " +
        "[--cdc capture.ldjson] [--cdc-wire jsoncdc|binlog|oplog]")

  private def runSql(rawArgs: Array[String]): Unit = {
    val flags = parseReportFlags(rawArgs)
    flags.positional match {
      case Seq(sql, sfDir, rest @ _*) =>
        val limit = parseLimit(rest, sUsage())
        val spark = querySession()
        if (flags.doScaling)
          scalingReport(spark, "adhoc",
            (s, dir) => adhocFrame(s, sql, dir, flags.cdcPath,
              flags.cdcWire), sfDir)
            .foreach(println)
        else {
          val df =
            try adhocFrame(spark, sql, sfDir, flags.cdcPath, flags.cdcWire)
            catch { case e: org.apache.spark.sql.AnalysisException =>
              System.err.println(s"SQL error: ${e.getMessage}")
              spark.stop()
              sys.exit(1)
            }
          runReports(df, "adhoc", limit, flags)
        }
        spark.stop()
      case _ =>
        sUsage()
        sys.exit(1)
    }
  }

  /** The `--profile` report: one timed full execution, then the
    * measured per-operator rows/bytes off the final adaptive plan.
    * Split from [[runQuery]] so specs exercise it without the CLI's
    * session lifecycle. */
  private[cli] def profileReport(df: org.apache.spark.sql.DataFrame,
      name: String): Seq[String] = {
    val t0 = System.nanoTime()
    val profile = graft.plans.PlanProfile.measure(df)
    val secs = (System.nanoTime() - t0) / 1e9
    f"[graft] profile $name: $secs%.2f s (materialized)" +:
      graft.plans.PlanProfile.render(profile).map("[graft]   " + _)
  }

  /** The `--audit-measure` report: every Window node's measured
    * partition-key cardinality and every Join node's measured blowup on
    * the data `df` reads, then the findings the sweep thresholds would
    * raise. Counts only — nothing materialized beyond the subplan aggs.
    * Split from [[runQuery]] so specs exercise it without the CLI's
    * session lifecycle. */
  private[cli] def measuredAuditReport(df: org.apache.spark.sql.DataFrame,
      name: String): Seq[String] = {
    import graft.plans.PlanAudit
    // memos shared with the finding folds below: every subplan counted
    // exactly once
    val wMemo = scala.collection.mutable.Map.empty[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        Seq[String]), (Long, Long)]
    val jMemo = scala.collection.mutable.Map.empty[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long]
    val wins = PlanAudit.windowCardinalities(df, wMemo)
    val joins = PlanAudit.joinCardinalities(df, jMemo)
    val winLines =
      if (wins.isEmpty) Seq("[graft]   (no partitioned windows)")
      else wins.map { c =>
        f"[graft]   keys=${c.keys.mkString(",")} rows=${c.inputRows} " +
          f"distinct=${c.distinctKeys} (${c.ratioPct}%.2f%%)" +
          (if (c.exempt) " [prefix-family carry, exempt]" else "")
      }
    val joinLines =
      if (joins.isEmpty) Seq("[graft]   (no multiplying-capable joins)")
      else joins.map { c =>
        f"[graft]   ${c.joinType} L=${c.leftRows} R=${c.rightRows} " +
          f"out=${c.outRows} (${c.blowup}%.2fx) on ${c.condition.take(60)}"
      }
    // checkpointed inputs: what the query pins in executor-local
    // storage (width x measured rows — wide corpus-scale pins are the
    // q14b class)
    val cMemo = scala.collection.mutable.Map.empty[Int, Long]
    val pins = PlanAudit.checkpointProfiles(df, cMemo)
    val pinLines =
      if (pins.isEmpty) Seq("[graft]   (no checkpointed inputs)")
      else pins.map(c => s"[graft]   ${c.cols.size} cols x ${c.rows} " +
        s"rows pinned (${c.cols.mkString(",").take(70)})")
    // the sweep's own folds at their default thresholds, off the memos
    // already populated above
    val findings =
      (PlanAudit.auditSkewedWindowsByData(df, memo = wMemo) ++
        PlanAudit.auditJoinExplosion(df, memo = jMemo) ++
        PlanAudit.auditWideCheckpoints(df, memo = cMemo))
        .map(f => s"[graft] finding: [${f.kind}] ${f.detail}")
    Seq(s"[graft] measured audit $name",
      "[graft] windows (distinct partition keys vs input rows):") ++
      winLines ++
      Seq("[graft] joins (output vs inputs):") ++ joinLines ++
      Seq("[graft] checkpoint pins (executor-local storage):") ++
      pinLines ++
      (if (findings.isEmpty) Seq("[graft] measured audit: clean")
       else findings)
  }

  /** The `--explain` cost card: plan signature (operator counts),
    * exchange totals, and the audit findings — derived from the plan
    * only, nothing executed. Split from [[runQuery]] so specs exercise
    * it without the CLI's session lifecycle. */
  private[cli] def explainReport(df: org.apache.spark.sql.DataFrame,
      name: String, lowCard: Set[String] = Set.empty): Seq[String] = {
    val sig = graft.plans.PlanSignature.of(df)
    val shuffles = Seq("exchange_hash", "exchange_range",
      "exchange_single", "exchange_other").map(sig.getOrElse(_, 0)).sum
    val broadcasts = sig.getOrElse("broadcast_exchange", 0)
    // what each scan reads and what got pushed below it — the I/O side
    // of the cost card (column pruning + filter pushdown at a glance)
    val scans = graft.plans.PlanAudit.scanProfiles(df).map { s =>
      val pushed =
        if (s.pushedFilters.isEmpty) "nothing pushed"
        else s"pushed: ${s.pushedFilters.mkString(", ").take(100)}"
      s"[graft]   ${s.table}: ${s.readCols.size}/${s.totalCols} cols " +
        s"(${s.readCols.mkString(",").take(80)}), $pushed"
    }
    Seq(
      s"[graft] explain $name",
      s"[graft] signature: ${graft.plans.PlanSignature.render(sig)}",
      s"[graft] exchanges: $shuffles shuffle, $broadcasts broadcast",
      s"[graft] scans (read width + pushdown):") ++
      (if (scans.isEmpty) Seq("[graft]   (no file scans in final plan)")
       else scans) ++
      auditReport(df, lowCard) ++
      graft.plans.PlanAudit.auditUnprunedScans(df)
        .map(f => s"[graft] plan audit: [${f.kind}] ${f.detail}")
  }

  /** The `--audit` report lines for a query's physical plan — one line
    * per [[graft.plans.PlanAudit]] finding, or a single "clean" line.
    * Split from [[runQuery]] so specs exercise the report without the
    * CLI's session lifecycle. */
  private[cli] def auditReport(df: org.apache.spark.sql.DataFrame,
      lowCard: Set[String] = Set.empty): Seq[String] = {
    val findings = graft.plans.PlanAudit.audit(df) ++
      graft.plans.StreamAudit.audit(df) ++ // no-op on batch frames
      (if (lowCard.nonEmpty)
        graft.plans.PlanAudit.auditSkewedWindows(df, lowCard)
       else Nil)
    if (findings.isEmpty) Seq("[graft] plan audit: clean")
    else findings.map(f => s"[graft] plan audit: [${f.kind}] ${f.detail}")
  }

  def main(args: Array[String]): Unit = {
    val qIdx = args.indexOf("-q")
    if (qIdx >= 0) { runQuery(args.drop(qIdx + 1)); return }
    val eIdx = args.indexOf("-e")
    if (eIdx >= 0) { runSql(args.drop(eIdx + 1)); return }
    val cfgPath = args.sliding(2).collectFirst {
      case Array("-c", p) => p }.getOrElse {
      System.err.println(
        "usage: graft.cli.Main -c config.json [-t] | -q <name|list> " +
          "<sfDir> | -e \"<sql>\" <sfDir>")
      sys.exit(1)
    }
    val validateOnly = args.contains("-t")
    val cfg = parseConfig(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(cfgPath))))
    val errors = ConfigValidation.validate(cfg)
    if (errors.nonEmpty) {
      errors.foreach(e => System.err.println(s"config error: $e"))
      sys.exit(1)
    }
    if (validateOnly) {
      println(s"config OK: ${cfg.backends.size} backend(s)")
      return
    }
    val spark = Harness.cliSession("graft-cdc")
    // one streaming query per backend (reference: worker per backend)
    val queries = cfg.backends.map { b =>
      val env = CdcStream.forBackend(spark, b)
      val sinks = b.sinks.map(SinkRegistry.create)
      SinkRegistry.attach(env, b.emit, sinks)
        .option("checkpointLocation",
          b.options.getOrElse("checkpoint", s"/tmp/graft-ckpt-${b.name}"))
        .start()
    }
    queries.foreach(_.awaitTermination())
  }
}
