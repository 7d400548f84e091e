package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters, read at layer boundaries from outside the
  * library: Spark listener events, the codegen compile log and
  * `CodegenMetrics`, and JVM MXBeans. `snapshot()` differences give the
  * counts of one pass. */
final class Counters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val cores = spark.sparkContext.defaultParallelism
  private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val stageBusyMs = mutable.Map.empty[(Int, Int), Long].withDefaultValue(0L)

  def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("sched.jobs", 1)
    val phase = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Counters.PhaseKey)))
    if (phase.contains("build")) add("build.jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("sched.tasks", 1)
    synchronized {
      stageBusyMs((e.stageId, e.stageAttemptId)) += e.taskInfo.duration
    }
    val m = e.taskMetrics
    if (m != null) {
      add("exec.s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("shuffle.spill_mb", m.diskBytesSpilled / 1e6)
      add("sinks.bytes_written_mb", m.outputMetrics.bytesWritten / 1e6)
      add("bytes_written", (m.shuffleWriteMetrics.bytesWritten +
        m.diskBytesSpilled + m.outputMetrics.bytesWritten).toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    add("sched.stages", 1)
    for (t0 <- s.submissionTime; t1 <- s.completionTime) synchronized {
      val busy = stageBusyMs.remove((s.stageId, s.attemptNumber())).getOrElse(0L)
      c("stage.slot_ms") += (t1 - t0).toDouble * cores
      c("stage.busy_ms") += busy.toDouble
    }
  }

  /** Output fingerprints observed by finished SQL executions, in order. */
  val observed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    add("catalyst.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    qe.observedMetrics.get(Fingerprint.Name).foreach(row =>
      observed.add(s"rows=${row.getLong(0)} hash=${row.getLong(1)}"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Waits until every event posted so far has reached this listener. */
  def drain(): Unit = ListenerDrain.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] = {
    drain()
    val jvm = Map(
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3,
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime / 1e3,
      "codegen.compiles" ->
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CompileLog.compileMs.sum() / 1e3,
      "codegen.compile_failures" -> CompileLog.failures.get.toDouble)
    synchronized(c.toMap) ++ jvm
  }
}

object Counters {
  /** Local property naming the harness phase a Spark job starts in. */
  val PhaseKey = "graftbench.phase"

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).iterator.map(k =>
      k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
}

/** A log4j appender on Spark's codegen logger: sums the "Code generated in
  * N ms" compile times and counts "Failed to compile" errors from any
  * logger (Spark then falls back to interpreted execution, which is
  * otherwise silent). Installed for the traced run only. */
object CompileLog {
  val compileMs = new DoubleAdder
  val failures = new AtomicLong
  private val CodegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val app = new AbstractAppender("graftbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        msg match {
          case Generated(ms) => compileMs.add(ms.toDouble)
          case _ =>
        }
        val text = msg + Option(e.getThrown).map(_.toString).getOrElse("")
        if (text.contains("Failed to compile") ||
            text.contains("failed to compile")) failures.incrementAndGet()
      }
    }
    app.start()
    config.addAppender(app)
    // INFO for the compile-time lines, kept off the console (additive=false)
    val codegen = new LoggerConfig(CodegenLogger, Level.INFO, false)
    codegen.addAppender(app, Level.INFO, null)
    config.getRootLogger.addAppender(app, Level.WARN, null)
    config.addLogger(CodegenLogger, codegen)
    ctx.updateLoggers()
  }
}

/** One traced interval around a call into a layer. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by a parent stack; `op` is the
  * operation they belong to. Disabled recorders time nothing. */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op = -1

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        stack.pop()
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** Records an interval measured elsewhere (micro-batches, whose
    * boundaries the stream reports after the fact). */
  def record(name: String, startNs: Long, endNs: Long, parent: Int): Int =
    if (!enabled) -1
    else {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, op, name, startNs, endNs)
      id
    }

  def current: Int = stack.headOption.getOrElse(-1)

  /** Self time per span name: duration minus the time covered by its
    * children (children of one parent never overlap in this harness). */
  def selfSeconds(of: Iterable[Span]): Map[String, Double] = {
    val childNs = of.groupBy(_.parent).view
      .mapValues(_.iterator.map(s => s.endNs - s.startNs).sum).toMap
    of.groupBy(_.name).view.mapValues(_.iterator.map(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }
}
