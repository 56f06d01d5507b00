package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.CatalogStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a module's public function, inside timed op `op`. */
final case class Span(name: String, startNs: Long, endNs: Long, op: Int,
    parent: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept only while `on`; the client
  * is one thread, so a stack gives each span its parent. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var on = false
  var op = -1
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, op, stack.headOption.getOrElse(-1))
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** Own time of each span: its duration minus its children's. */
  def selfSeconds: Seq[(Span, Double)] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.indices.map(i => spans(i) -> (spans(i).seconds - child(i)))
  }

  def writeJsonl(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach(s => w.println(
      s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""op":${s.op},"parent":${s.parent}}"""))
    finally w.close()
  }
}

/** Wall-clock window of one traced op (ms, for listener attribution). */
final case class Window(op: Int, startMs: Long, endMs: Long)

/** Task, stage and job counters, attributed to ops by time window (one
  * client thread, so the window of an op holds only its own work). */
final class SparkCounters extends SparkListener {
  final case class TaskEv(finishMs: Long, runMs: Long, cpuNs: Long,
      shuffleBytes: Long, spillBytes: Long)
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskEv]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskEv(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.completionTime.foreach(t => stages.add(t))
}

/** Analysis / optimization / planning phase times of every query
  * execution, from its QueryPlanningTracker. */
final class PlanPhases extends QueryExecutionListener {
  final case class Ev(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)
  val evs = new java.util.concurrent.ConcurrentLinkedQueue[Ev]()
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val at = ph.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min)
    if (ph.nonEmpty) evs.add(Ev(at, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Catalog store that times every call into the wrapped one. Reads
  * return lazy frames, so `read` time is the open (listing, footer and
  * schema work); `write` time is the full materialising overwrite. */
final class TimingCatalog(inner: CatalogStore, tracer: Tracer)
    extends CatalogStore {
  private def t[T](name: String)(b: => T): T = tracer.span(name)(b)
  override def readUsers(): DataFrame = t("catalog.read")(inner.readUsers())
  override def readJobs(): DataFrame = t("catalog.read")(inner.readJobs())
  override def writeUsers(df: DataFrame): Unit = t("catalog.write")(inner.writeUsers(df))
  override def writeJobs(df: DataFrame): Unit = t("catalog.write")(inner.writeJobs(df))
}

/** Everything the traced run switches on, per traced round. */
final class Probes(spark: SparkSession, val tracer: Tracer) {
  val counters = new SparkCounters
  val phases = new PlanPhases
  val windows = mutable.ArrayBuffer.empty[Window]
  private val gcMs = mutable.Map.empty[Int, Long]

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def start(): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(phases)
    tracer.on = true
  }

  /** Drains the listener bus (so every event of the round has arrived)
    * and switches the listeners off again. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    tracer.on = false
    spark.listenerManager.unregister(phases)
    spark.sparkContext.removeSparkListener(counters)
  }

  def timeOp[T](op: Int)(body: => T): T = {
    tracer.op = op
    val g0 = gcTotalMs
    val t0 = System.currentTimeMillis()
    try body
    finally {
      windows += Window(op, t0, System.currentTimeMillis())
      gcMs(op) = gcTotalMs - g0
    }
  }

  private def inWindow(t: Long): Boolean =
    windows.exists(w => t >= w.startMs && t <= w.endMs)

  /** Per-op means of the Spark and JVM counters over the traced ops. */
  def perOp(nproc: Int): Map[String, Double] = {
    val n = math.max(1, windows.size).toDouble
    val ts = counters.tasks.asScala.filter(e => inWindow(e.finishMs)).toSeq
    val wallS = windows.map(w => (w.endMs - w.startMs) / 1e3).sum
    val runS = ts.map(_.runMs).sum / 1e3
    val pp = phases.evs.asScala.filter(e => inWindow(e.atMs)).toSeq
    Map(
      "spark.jobs_per_op" -> counters.jobs.asScala.count(t => inWindow(t)) / n,
      "spark.stages_per_op" -> counters.stages.asScala.count(t => inWindow(t)) / n,
      "spark.tasks_per_op" -> ts.size / n,
      "spark.exec_cpu_s_per_op" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "spark.exec_run_s_per_op" -> runS / n,
      "spark.slot_util" -> (if (wallS > 0) runS / (wallS * nproc) else 0.0),
      "spark.shuffle_mb_per_op" -> ts.map(_.shuffleBytes).sum / 1e6 / n,
      "spark.spill_mb_per_op" -> ts.map(_.spillBytes).sum / 1e6 / n,
      "jvm.gc_s_per_op" -> gcMs.values.sum / 1e3 / n,
      "plan.analysis_ms" -> pp.map(_.analysisMs).sum / n,
      "plan.optimization_ms" -> pp.map(_.optimizationMs).sum / n,
      "plan.planning_ms" -> pp.map(_.planningMs).sum / n)
  }
}
