package perfbench

import java.nio.file.{Files, Path, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** What one run measured: metric values by name, the checked outcome,
  * and context that goes into the run's record but not into the result
  * line. */
case class Result(metrics: Map[String, Double], attempted: Long,
    failed: Long, info: Map[String, JValue] = Map.empty)

/** Arguments of one run. `dir` is the run's own fresh directory. */
case class Ctx(workload: String, seed: Long, seconds: Int, traced: Boolean,
    dir: Path, data: String, fingerprints: Path, record: Option[Path]) {
  val tracer = new Tracer(traced)
  val memory = new Memory
  def sub(name: String): Path = Files.createDirectories(dir.resolve(name))
}

/** `perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --dir <run dir> --data <sf0.1 dir> --fingerprints <tsv> [--out <json>]`
  *
  * Prints the run's result as the last line of standard output and
  * writes the full record (basis, every metric, spans) to `--out`. */
object Main {
  /** A metric's unit, from the suffix of its name. */
  def unitOf(name: String): String =
    if (name.endsWith("_ms_per_kevent")) "ms/kevent"
    else if (name.endsWith("_per_kevent")) "bytes/kevent"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_bytes")) "bytes"
    else "count"

  def loadavg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", Paths.get(opts("dir")), opts("data"),
      Paths.get(opts("fingerprints")), opts.get("out").map(Paths.get(_)))
    Cdc.tracer = ctx.tracer
    val loadBefore = loadavg()
    val r = ctx.workload match {
      case "cdc_trickle" => Workloads.trickle(ctx)
      case "batch_sweep" => Workloads.batch(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val metrics = r.metrics
    val shown =
      if (!ctx.traced) Workloads.endToEnd.map(k => k -> metrics(k))
      else Workloads.perLayer.map { k =>
        k -> metrics.getOrElse(k.stripPrefix("traced."), 0.0) }
    val spans = ctx.tracer.all
    val record = JObject(
      "workload" -> JString(ctx.workload), "seed" -> JLong(ctx.seed),
      "seconds" -> JInt(ctx.seconds), "trace" -> JBool(ctx.traced),
      "attempted" -> JLong(r.attempted), "failed" -> JLong(r.failed),
      "failed_frac" -> JDouble(r.failed.toDouble / math.max(1L, r.attempted)),
      "metrics" -> JObject(metrics.toList.sortBy(_._1).map { case (k, v) =>
        k -> JObject("value" -> JDouble(v), "unit" -> JString(unitOf(k))) }),
      "basis" -> JObject((r.info.getOrElse("basis", JObject()) match {
        case JObject(fs) => fs
        case _ => Nil
      }) ++ List(
        "nproc" -> JInt(Runtime.getRuntime.availableProcessors),
        "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory / (1 << 20)),
        "java" -> JString(System.getProperty("java.version")),
        "loadavg_before" -> JDouble(loadBefore),
        "loadavg_after" -> JDouble(loadavg()))),
      "info" -> JObject((r.info - "basis").toList),
      "self_ms" -> JObject(ctx.tracer.selfMs.toList.sortBy(_._1).map {
        case (k, v) => k -> JDouble(v) }),
      "spans" -> JArray(spans.toList.map(s => JObject(
        "id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
        "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs),
        "run" -> JString(ctx.dir.getFileName.toString)))))
    ctx.record.foreach(p => Files.writeString(p, compact(render(record))))
    System.err.println(s"[perfbench] basis ${compact(render(record \ "basis"))}")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"[perfbench] $k%-45s $v%14.4f ${unitOf(k)}")
    }
    System.err.println(f"[perfbench] failed_frac ${r.failed.toDouble / math.max(1L, r.attempted)}%.6f " +
      s"(${r.failed} of ${r.attempted})")
    val line = JObject(
      "correct" -> JBool(r.failed == 0), "attempted" -> JLong(r.attempted),
      "failed" -> JLong(r.failed),
      "metrics" -> JObject(shown.toList.map { case (k, v) =>
        k -> JObject("value" -> JDouble(v), "unit" -> JString(unitOf(k))) }))
    println(compact(render(line)))
    System.out.flush()
    // the stream and pool threads of the session are not daemons
    sys.exit(0)
  }
}
