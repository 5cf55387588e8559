package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer of the program. */
case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out when the run ends. Off in an
  * untraced run: `span` then only runs its body. Each thread keeps its
  * own stack of open spans, so spans opened on the stream thread (sink
  * writes) never take a parent from the main thread. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Per span name: total duration minus the time its child spans
    * cover, in ms. Children of one span run one after another on its
    * thread, so their durations add up without overlap. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Task-level totals from Spark's own listener events. */
final class TaskTotals extends SparkListener {
  val jobs, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill,
      written = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      written.addAndGet(m.outputMetrics.bytesWritten)
    }
    ()
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "runMs" -> runMs.get,
    "cpuNs" -> cpuNs.get, "gcMs" -> gcMs.get,
    "shuffleRead" -> shuffleRead.get, "shuffleWrite" -> shuffleWrite.get,
    "spill" -> spill.get, "written" -> written.get)
}

/** Analysis, optimization and planning time of every executed query,
  * from each `QueryExecution`'s `QueryPlanningTracker`. */
final class PlanningTotals extends QueryExecutionListener {
  val ms = new AtomicLong(0L)
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    ms.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Every executed trigger's `StreamingQueryProgress`. */
final class ProgressLog extends StreamingQueryListener {
  private val log = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    // idle progress events carry no addBatch phase
    if (e.progress.durationMs.containsKey("addBatch")) { log.add(e.progress); () }
  def triggers: Seq[StreamingQueryProgress] = log.asScala.toSeq.sortBy(_.batchId)
}

/** The listeners one run registers on its session. */
final class Listeners(spark: SparkSession) {
  val tasks = new TaskTotals
  val planning = new PlanningTotals
  val progress = new ProgressLog
  spark.sparkContext.addSparkListener(tasks)
  spark.listenerManager.register(planning)
  spark.streams.addListener(progress)

  /** Waits until every event posted so far has reached the listeners. */
  def settle(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Spark runtime totals between two task snapshots, by metric name. */
  def runtime(from: Map[String, Long], to: Map[String, Long]): Map[String, Double] = {
    def d(k: String) = (to(k) - from(k)).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> d("jobs"), "spark.tasks" -> d("tasks"),
      "spark.task_run_s" -> d("runMs") / 1e3,
      "spark.task_cpu_s" -> d("cpuNs") / 1e9,
      "spark.gc_s" -> d("gcMs") / 1e3,
      "spark.shuffle_read_mb" -> d("shuffleRead") / mb,
      "spark.shuffle_write_mb" -> d("shuffleWrite") / mb,
      "spark.spill_mb" -> d("spill") / mb)
  }
}
