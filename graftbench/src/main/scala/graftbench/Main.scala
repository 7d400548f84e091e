package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: set the session up, run warm-up passes, run
  * measured passes for `--seconds`, check outputs, and write the raw
  * measurements as JSON to `--out`. Invoked by `run.py`.
  *
  * With `--trace 1`, even-numbered measured passes record spans around
  * every layer call and the odd ones do not, so the same run gives the
  * per-layer figures and the tracing overhead. */
object Main {
  final case class Args(workload: String, data: String, work: String,
                        out: String, seconds: Double, trace: Boolean,
                        expected: Option[String], record: Option[String],
                        checks: Map[String, Long])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m.get("expected"), m.get("record"),
      m.get("checks").toSeq.flatMap(_.split(',')).map { kv =>
        val Array(k, v) = kv.split('='); k -> v.toLong }.toMap)
  }

  private val Cpus = Runtime.getRuntime.availableProcessors
  // untimed passes before measuring: the first pass compiles most of the
  // generated code, and the second is still ~25% slower than the passes
  // after it. The JIT keeps settling for several passes more; a long
  // measured window and per-operation medians absorb that, and the host's
  // bursts of contention, better than more warm-up passes would
  private val WarmPasses = 2
  private val MinPasses = 3

  /** `graft.Bench`'s session settings, plus local scratch directories. */
  def settings(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.files.openCostInBytes" -> (1024 * 1024).toString,
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/spark-warehouse")

  /** Session creation plus `graft.Bench`'s warm-up call. */
  private def setUp(a: Args): SparkSession = {
    val spark = settings(Cpus, a.work)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark
  }

  def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  def main(args: Array[String]): Unit = {
    def elapsed() = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(args)
    val spark = setUp(a)
    // set-up is cold: JVM start, class loading, session creation and the
    // first compile of the warm-up call
    val setupS = elapsed()

    val counters = new Counters(spark)
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    if (a.trace) CompileLog.install()
    val tracer = new Tracer(false)
    val r = new Runner(spark, tracer, counters)
    val workload: Workload = a.workload match {
      case "curation" => new Sequenced(Seq(
        new QueryWorkload(spark, a.data, QueryWorkload.Curation, inputBytes(a.data)),
        new StreamWorkload(spark, s"${a.data}/stream", a.work)))
      case "ingest" => new IngestWorkload(spark, a.data, a.work,
        a.checks("rows_after_merge"), a.checks("items_after_merge"),
        a.checks("permits"))
      case other => sys.error(s"unknown workload $other")
    }
    val phases = mutable.LinkedHashMap("setup" -> setupS)
    workload.prepare(r)
    phases("prepare") = elapsed()
    for (i <- 0 until WarmPasses) { workload.reset(); workload.pass(r, i) }
    phases("warm_up") = elapsed()

    final case class Pass(traced: Boolean, seconds: Double,
                          counts: Map[String, Double], spans: Seq[Span])
    val passes = mutable.ArrayBuffer.empty[Pass]
    r.measuring = true
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (workload.more &&
           (passes.size < MinPasses || System.nanoTime() < deadline)) {
      val n = WarmPasses + passes.size
      workload.reset()
      tracer.enabled = a.trace && passes.size % 2 == 0
      val firstSpan = tracer.spans.size
      val before = counters.snapshot()
      val ps = System.nanoTime()
      tracer.span("pass")(workload.pass(r, n))
      val seconds = (System.nanoTime() - ps) / 1e9
      val counts = Counters.delta(before, counters.snapshot())
      passes += Pass(tracer.enabled, seconds, counts,
        tracer.spans.drop(firstSpan).toSeq)
    }
    r.measuring = false
    workload.close()
    phases("measure") = elapsed()

    val verified = workload.verify(r)
    val problems = r.problems ++ checkOutputs(r, a) ++ verified
    phases("verify") = elapsed()
    val plain = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    def perPass(ps: Iterable[Pass], f: Pass => Map[String, Double]) =
      ps.flatMap(f).groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (k, v) => k -> v / ps.size.max(1) }
    val result = Map(
      "workload" -> a.workload,
      "setup_s" -> setupS,
      "pass_s" -> plain.map(_.seconds).toSeq,
      "traced_pass_s" -> traced.map(_.seconds).toSeq,
      "op_s_by_name" -> r.latenciesByOp.map { case (k, v) => k -> v.toSeq },
      "attempted" -> r.attempted,
      "failed" -> (r.failed + problems.size - r.problems.size),
      "problems" -> problems.toSeq,
      "input_bytes_per_pass" -> workload.inputBytes,
      "bytes_written_per_pass" -> plain.map(_.counts.getOrElse("bytes_written", 0.0)).toSeq,
      "counters" -> perPass(traced, _.counts),
      "self_s" -> perPass(traced, p => tracer.selfSeconds(p.spans)),
      "total_s" -> perPass(traced, p => p.spans.groupMapReduce(_.name)(_.seconds)(_ + _)),
      "cache" -> Map("blocks_left_after_op" -> r.blocksLeft.toDouble / traced.size.max(1),
                     "persisted_mb_peak" -> r.persistedPeakMb),
      "extras" -> workload.extras,
      "peak_rss_mb" -> peakRssMb(),
      "phases_s" -> phases)
    writeSpans(s"${a.work}/trace/spans.jsonl", traced.flatMap(_.spans))
    a.record.foreach(path => write(path, json(r.outputs.map { case (k, v) =>
      k -> v.head }.toMap)))
    write(a.out, json(result))
    spark.stop()
  }

  private def inputBytes(dir: String): Long =
    new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum

  /** Every operation must give the same output on every pass, and on the
    * default seed the output recorded in the expectation file. Each
    * disagreeing output counts as one failed operation. */
  private def checkOutputs(r: Runner, a: Args): Seq[String] = {
    val expected: Map[String, String] = a.expected.map { p =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(p)).path(a.workload)
      node.fieldNames.asScala.map(k => k -> node.get(k).asText).toMap
    }.getOrElse(Map.empty)
    val missing = expected.keySet -- r.outputs.keySet
    r.outputs.toSeq.flatMap { case (op, outs) =>
      val want = expected.getOrElse(op, outs.head)
      outs.filter(_ != want).map(o => s"$op: output $o, expected $want")
    } ++ missing.map(op => s"$op: no output")
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def writeSpans(path: String, spans: Iterable[Span]): Unit =
    write(path, spans.map(s => json(Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs))).mkString("\n"))

  private def write(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, text)
  }

  /** Minimal JSON for the harness's own maps, sequences and scalars. */
  def json(v: Any): String = v match {
    case m: collection.Map[_, _] => m.map { case (k, x) =>
      json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n => n.toString
  }
}
