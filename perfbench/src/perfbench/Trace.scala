package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** One recorded interval: a layer boundary the benchmark crossed.
  * `counts` holds the counter deltas observed between its start and
  * end. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, run: String,
                      counts: Map[String, Double])

/** Counters the benchmark keeps from its own Spark listeners, a
  * query-execution listener, the codegen compile accumulators and a
  * log appender that sees codegen compile failures. */
final class Counters {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val peakMem = new AtomicLong(0)
  val failureKinds = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong(0)).addAndGet(v)
  def peak(v: Long): Unit = peakMem.accumulateAndGet(v, math.max)

  /** Current totals; time counters in seconds, sizes in MB. Counters
    * whose key already is a metric name (it has a dot) pass through. */
  def snapshot(): Map[String, Double] = {
    def g(k: String) = Option(c.get(k)).map(_.get).getOrElse(0L).toDouble
    val named = mutable.Map.empty[String, Double]
    c.forEach((k, v) => if (k.contains('.')) named(k) = v.get.toDouble)
    named.toMap ++ Map(
      "spark.jobs" -> g("jobs"),
      "spark.tasks" -> g("tasks"),
      "spark.failed_tasks" -> g("failed_tasks"),
      "spark.task_s" -> g("task_ms") / 1e3,
      "spark.task_cpu_s" -> g("task_cpu_ns") / 1e9,
      "spark.gc_s" -> g("gc_ms") / 1e3,
      "spark.shuffle_write_mb" -> g("shuffle_write_b") / 1048576.0,
      "spark.spill_mb" -> g("spill_b") / 1048576.0,
      "spark.peak_exec_mem_mb" -> peakMem.get / 1048576.0,
      "catalyst.analysis_s" -> g("analysis_ms") / 1e3,
      "catalyst.optimization_s" -> g("optimization_ms") / 1e3,
      "catalyst.planning_s" -> g("planning_ms") / 1e3,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "codegen.classes" ->
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.failures" -> g("codegen_failures"))
  }
}

/** Spark listener feeding [[Counters]]. */
final class TaskListener(k: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = k.add("jobs", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    k.add("tasks", 1)
    e.reason match {
      case org.apache.spark.Success =>
      case r =>
        k.add("failed_tasks", 1)
        val kind = r.getClass.getSimpleName.stripSuffix("$")
        k.failureKinds.computeIfAbsent(kind, _ => new AtomicLong(0))
          .incrementAndGet()
    }
    val m = e.taskMetrics
    if (m != null) {
      k.add("task_ms", m.executorRunTime)
      k.add("task_cpu_ns", m.executorCpuTime)
      k.add("gc_ms", m.jvmGCTime)
      k.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      k.add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      k.peak(m.peakExecutionMemory)
    }
  }
}

/** Catalyst phase times of every finished query execution. */
final class PhaseListener(k: Counters) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      k.add(s"${phase}_ms", s.durationMs)
    }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Counts code-generator compile failures (the generated class is
  * dropped and the operator runs interpreted) as they are logged. */
final class CodegenFailureAppender(k: Counters)
    extends AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
  @volatile var enabled = false
  override def append(e: LogEvent): Unit =
    if (enabled && e.getLevel.isMoreSpecificThan(Level.ERROR) &&
        e.getLoggerName.endsWith("codegen.CodeGenerator"))
      k.add("codegen_failures", 1)
}

/** Span recorder. When `enabled` is false, [[span]] only runs its body:
  * untraced runs pay nothing but a branch. When enabled, each span
  * drains the listener bus at both ends so its counter deltas cover
  * exactly its own interval; peak execution memory is a running
  * maximum, not a delta. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession, val run: String) {
  val counters = new Counters
  private val tasks = new TaskListener(counters)
  private val phases = new PhaseListener(counters)
  private val appender = new CodegenFailureAppender(counters)
  private var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def enabled: Boolean = on

  /** Attach or detach the listeners. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    val sc = spark.sparkContext
    if (flag && !appender.isStarted) {
      appender.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger
        .addAppender(appender, Level.ERROR, null)
      ctx.updateLoggers()
    }
    if (flag) {
      sc.addSparkListener(tasks)
      spark.listenerManager.register(phases)
    } else {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(tasks)
      spark.listenerManager.unregister(phases)
    }
    appender.enabled = flag
    on = flag
  }

  private def drained(): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    counters.snapshot()
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val before = drained()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val after = drained()
        stack.pop()
        val delta = after.map { case (k, v) =>
          k -> (if (k == "spark.peak_exec_mem_mb") v
                else v - before.getOrElse(k, 0.0))
        }
        spans += Span(id, name, t0, t1, parent, run, delta)
      }
    }

  /** Wall seconds of each span minus the part of it its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => k.end - k.start).sum
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }
}
