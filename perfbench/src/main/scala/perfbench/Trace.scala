package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters from benchmark-owned listeners: a `SparkListener` for
  * jobs, stages and task metrics, and a `QueryExecutionListener` for the
  * planning phases and the wall of each write command.
  */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap[String, Double]()

  private def add(k: String, v: Double): Unit = synchronized {
    c(k) = c.getOrElse(k, 0.0) + v
  }

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("output_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    add("queries", 1)
    if (qe.logical.getClass.getSimpleName.startsWith("InsertIntoHadoopFsRelation"))
      add("write_ms", durationNs / 1e6)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object EngineCounters {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "output_rows", "plan_ms", "queries", "write_ms")

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    Keys.map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap

  /** The `spark.*` per-layer metrics: `perUnit` gives a counter per pass
    * or micro-batch; `coreBusy` is task time / (wall × cores).
    */
  def sparkLayers(perUnit: String => Double, coreBusy: Double): Map[String, Double] =
    Seq("plan_ms", "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
      .map(k => s"spark.$k" -> perUnit(k)).toMap + ("spark.core_busy_ratio" -> coreBusy)

  /** Block until every event posted so far reached the listeners, so a
    * snapshot taken after an action includes that action's tasks.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }
}

/** One traced interval. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Double, endMs: Double, counters: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. Spans nest through a stack, so a span opened
  * inside another names it as parent; they are written out once, when the
  * run ends.
  */
final class Tracer(run: String, counters: Option[EngineCounters], sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def snap(): Map[String, Double] = counters.fold(Map.empty[String, Double]) { c =>
    EngineCounters.drain(sc)
    c.snapshot()
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, stack.headOption.getOrElse(-1), run, 0, 0, Map.empty)
    stack = id :: stack
    val before = snap()
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack = stack.tail
      spans(id) = spans(id).copy(startMs = start, endMs = end,
        counters = if (counters.isEmpty) Map.empty else EngineCounters.delta(before, snap()))
    }
  }

  /** Record a span timed elsewhere (e.g. a micro-batch phase reported by
    * streaming progress); returns its id for use as a parent.
    */
  def record(name: String, parent: Int, startMs: Double, endMs: Double): Int = {
    spans += Span(spans.size, name, parent, run, startMs, endMs, Map.empty)
    spans.size - 1
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time: the span's duration minus the time its children cover. */
  def selfMs(s: Span): Double = s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val body = spans.map(s => Util.json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> selfMs(s),
      "counters" -> s.counters))).mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(path.toPath, body.getBytes("UTF-8"))
    ()
  }
}
