package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.Curate
import graft.pipelines.Catalog
import graft.sinks.SnapshotTable
import graft.sources.Fetch
import graft.streaming.EventStream

/** Order-independent content fingerprint of a query result: row count and
  * the sum of per-row xxhash64 values (low 32 bits, so the sum cannot
  * overflow). Collected through `observe` on the timed action itself, so
  * checking a result costs one hash per row and no second execution. */
object Fingerprint {
  val Name = "graftbench_fp"

  private def hashable(f: StructField): Column = f.dataType match {
    case _: MapType => to_json(col(f.name))
    case _ => col(f.name)
  }

  def observed(df: DataFrame): DataFrame = {
    val h = if (df.schema.isEmpty) lit(0L)
            else xxhash64(df.schema.fields.map(hashable).toIndexedSeq: _*)
    df.observe(Name, count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("hash"))
  }
}

/** Runs operations, times them and keeps their outputs for the untimed
  * checks. Every attempted operation stays in the totals: a failure is
  * counted in `failed`, never dropped. */
final class Runner(val spark: SparkSession, val tracer: Tracer,
                   val counters: Counters) {
  val latenciesByOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val outputs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  val problems = mutable.ArrayBuffer.empty[String]
  var measuring = false
  var attempted = 0L
  var failed = 0L
  private var opId = 0

  /** One operation: `f` returns its output summary, or throws. */
  def op(name: String)(f: => String): Unit = {
    opId += 1
    tracer.op = opId
    val t0 = System.nanoTime()
    val out =
      try Right(tracer.span("op")(f))
      catch { case NonFatal(e) => Left(s"$name threw: $e") }
    record(name, (System.nanoTime() - t0) / 1e9, out)
  }

  /** Accounts one attempted operation that took `seconds`. */
  def record(name: String, seconds: Double, out: Either[String, String]): Unit = {
    attempted += 1
    if (measuring)
      latenciesByOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds
    out match {
      case Right(o) => outputs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += o
      case Left(problem) => failed += 1; problems += problem
    }
  }

  /** Tags the Spark jobs `f` starts with the harness phase. */
  def phase[A](p: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Counters.PhaseKey, p)
    try f finally sc.setLocalProperty(Counters.PhaseKey, null)
  }

  /** Noop-sink write of every output column (`graft.Bench`'s timed action)
    * with the fingerprint observed on the way; returns the fingerprint. */
  def execute(df: DataFrame): String = {
    tracer.span("harness.drain") {
      counters.drain()
      counters.observed.clear()
    }
    tracer.span("exec")(phase("exec")(
      Fingerprint.observed(df).write.format("noop").mode("overwrite").save()))
    tracer.span("harness.drain")(counters.drain())
    Option(counters.observed.poll()).getOrElse(
      throw new IllegalStateException("no fingerprint observed"))
  }

  /** Operators persist intermediates through default `PersistScope`s that
    * nothing closes; count what an operation left cached, then release it
    * so one operation's cache never serves the next (as `graft.Bench`). */
  var blocksLeft = 0L
  var persistedPeakMb = 0.0
  def releaseCache(): Unit = tracer.span("harness.clear_cache") {
    if (tracer.enabled) {
      val infos = spark.sparkContext.getRDDStorageInfo
      blocksLeft += infos.map(_.numCachedPartitions.toLong).sum
      persistedPeakMb = persistedPeakMb.max(
        infos.map(i => i.memSize + i.diskSize).sum / 1e6)
    }
    spark.catalog.clearCache()
  }
}

trait Workload {
  /** Bytes of input one pass consumes. */
  def inputBytes: Long
  /** Untimed preparation before the first pass. */
  def prepare(r: Runner): Unit = ()
  /** Untimed clean-up before each pass. */
  def reset(): Unit = ()
  /** Whether another pass has input left. */
  def more: Boolean = true
  /** Untimed shutdown after the last pass. */
  def close(): Unit = ()
  def pass(r: Runner, passNo: Int): Unit
  /** Untimed checks after the last pass; returns failed checks. */
  def verify(r: Runner): Seq[String] = Nil
  /** Extra end-of-run figures (printed, not gated). */
  def extras: Map[String, Double] = Map.empty
}

/** Runs the passes of several workloads as one pass, in order. */
final class Sequenced(parts: Seq[Workload]) extends Workload {
  def inputBytes: Long = parts.map(_.inputBytes).sum
  override def prepare(r: Runner): Unit = parts.foreach(_.prepare(r))
  override def reset(): Unit = parts.foreach(_.reset())
  override def more: Boolean = parts.forall(_.more)
  override def close(): Unit = parts.foreach(_.close())
  def pass(r: Runner, passNo: Int): Unit = parts.foreach(_.pass(r, passNo))
  override def verify(r: Runner): Seq[String] = parts.flatMap(_.verify(r))
  override def extras: Map[String, Double] = parts.map(_.extras).reduce(_ ++ _)
}

/** A family of `SparkEntry.queries`: one operation is one query's builder
  * call plus its timed action. */
final class QueryWorkload(spark: SparkSession, data: String,
                          queries: Seq[String], val inputBytes: Long)
    extends Workload {
  require(queries.forall(SparkEntry.queries.contains),
    s"unknown queries: ${queries.filterNot(SparkEntry.queries.contains)}")

  def pass(r: Runner, passNo: Int): Unit = queries.foreach { q =>
    r.op(q) {
      spark.sparkContext.setJobDescription(q)
      val df = r.tracer.span("build")(r.phase("build")(
        SparkEntry.queries(q)(spark, data)))
      val fp = r.execute(df)
      r.releaseCache()
      fp
    }
  }
}

object QueryWorkload {
  /** Training-data operators: dedup, similarity, ANN, text quality, and the
    * curation pipeline. */
  val Curation = Seq(
    "q_dedup_exact", "q_simhash", "q_winnow", "q_ann_lsh", "q_text_quality",
    "q_curation_pipeline")
}

/** The write path: unzip and land both sources through `Catalog.run`,
  * land the upsert batch, merge it, compact, vacuum, read back. Each pass
  * starts from an empty warehouse root. */
final class IngestWorkload(spark: SparkSession, data: String, work: String,
                           expectRows: Long, expectItems: Long,
                           expectPermits: Long) extends Workload {
  private def size(p: String) = java.nio.file.Files.size(java.nio.file.Paths.get(p))
  private val csv = s"$data/epd.csv"
  private val upsert = s"$data/epd_upsert.csv"
  private val zip = s"$data/street_manager.zip"
  val inputBytes: Long = size(csv) + size(upsert) + size(zip)
  private val Keys = Seq("PRACTICE_CODE", "BNF_PRESENTATION_CODE")
  private var storedBytes = 0L
  private var table = ""
  private var permitsTable = ""

  private val root = s"$work/ingest"
  override def reset(): Unit = Main.deleteRecursively(root)

  private def files(dir: String): Seq[java.io.File] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.map(_.toFile).filter(_.isFile).toSeq
    finally walk.close()
  }

  def pass(r: Runner, passNo: Int): Unit = {
    val wh = s"$root/warehouse"
    def land(name: String, input: String, into: String): String =
      r.tracer.span("pipelines.land")(Catalog.run(spark, name, input, into))
        .values.head
    var staged = ""
    r.op("unzip") {
      val files = r.tracer.span("sources.unzip")(
        Fetch.unzip(zip, s"$root/staging"))
      staged = s"$root/staging/permits"
      s"files=${files.size}"
    }
    r.op("land_epd") { table = land("nhs_prescriptions", csv, wh); "ok" }
    r.op("land_street_manager") {
      permitsTable = land("street_manager", staged, wh); "ok"
    }
    var upsertTable = ""
    r.op("land_upsert") {
      upsertTable = land("nhs_prescriptions", upsert, s"$root/upsert"); "ok"
    }
    r.op("merge") {
      r.tracer.span("sinks.merge")(SnapshotTable.merge(
        SnapshotTable.read(spark, upsertTable), table, Keys)).toString
    }
    r.op("compact") {
      r.tracer.span("sinks.compact")(SnapshotTable.compact(spark, table)).toString
    }
    // data files the pass's commits wrote, before vacuum reclaims any
    r.tracer.span("harness.count_files")(r.counters.add("sinks.files_written",
      files(root).count(_.getName.endsWith(".parquet")).toDouble))
    r.op("vacuum") {
      r.tracer.span("sinks.vacuum")(
        SnapshotTable.vacuum(spark, table, keep = 1, orphanGraceMs = 0))
      storedBytes = files(table).map(_.length).sum
      "ok"
    }
    r.op("read") {
      r.tracer.span("sinks.read") {
        val df = SnapshotTable.read(spark, table)
        val row = df.agg(count(lit(1)), sum(col("ITEMS"))).head()
        if (row.getLong(0) != expectRows || row.getLong(1) != expectItems)
          throw new IllegalStateException(
            s"read back rows=${row.getLong(0)} items=${row.getLong(1)}, " +
            s"expected rows=$expectRows items=$expectItems")
        r.execute(df)
      }
    }
    r.releaseCache()
  }

  override def verify(r: Runner): Seq[String] = {
    val n = SnapshotTable.read(spark, permitsTable).count()
    if (n == expectPermits) Nil
    else Seq(s"street manager landed $n rows, expected $expectPermits")
  }

  override def extras: Map[String, Double] = Map(
    "stored_bytes_per_input_byte" -> storedBytes.toDouble / inputBytes)
}

/** `EventStream.curationStream` as one long-running query. Documents
  * arrive one file at a time: each operation moves the next backlog file
  * into the watched directory and waits until the stream has processed
  * it, so one operation is one micro-batch (a closed loop with one
  * client). The near-dup signature store carries across micro-batches. */
final class StreamWorkload(spark: SparkSession, data: String, work: String)
    extends Workload {
  private val backlog = new java.io.File(s"$data/backlog").listFiles
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  private val root = s"$work/stream"
  private val incoming = s"$root/incoming"
  private val out = s"$root/out"
  private val docsPerFile = spark.read.parquet(backlog.head.getPath).count()
  val inputBytes: Long = backlog.head.length
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  // gate parameters: each gate rejects a share of the generated documents
  private val MinTokens = 20
  private val MaxRepPpm = 300000L
  private val BenchN = 3
  private val MinShared = 8
  private val MinScorePpm = 15000L
  private var model: Map[String, Long] = Map.empty
  private var benchNgrams: Array[String] = Array.empty
  private var query: org.apache.spark.sql.streaming.StreamingQuery = null
  private var next = 0
  @volatile private var batchId = -1L
  // (handler start, sink start, sink end, handler end) of the last batch
  private val handled = new java.util.concurrent.LinkedBlockingQueue[Array[Long]]()

  override def prepare(r: Runner): Unit = {
    model = Curate.lmModel(spark.read.parquet(s"$data/lm_reference.parquet"),
      "doc_id", "text")
    benchNgrams = Curate.benchmarkNgrams(
      spark.read.parquet(s"$data/benchmark_split.parquet"), "doc_id", "text",
      BenchN)
    Main.deleteRecursively(root)
    new java.io.File(incoming).mkdirs()
    val times = Array.fill(4)(0L)
    val (gated, handler) = EventStream.curationStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(incoming),
      "doc_id", "text", MinTokens, MaxRepPpm, benchNgrams, BenchN, MinShared,
      model, MinScorePpm, s"$root/store",
      emit = df => {
        times(1) = System.nanoTime()
        df.write.mode("append").parquet(s"$out/batch=$batchId")
        times(2) = System.nanoTime()
      })
    query = gated.writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        batchId = id
        times(0) = System.nanoTime()
        handler(df, id)
        times(3) = System.nanoTime()
        handled.add(times.clone())
        ()
      }
      .option("checkpointLocation", s"$root/checkpoint")
      .start()
  }

  override def more: Boolean = next < backlog.length

  def pass(r: Runner, passNo: Int): Unit = {
    val f = backlog(next)
    next += 1
    r.op("micro_batch") {
      r.tracer.span("streaming.batch") {
        // land the file atomically: the source must never list a partial file
        val tmp = java.nio.file.Paths.get(root, f.getName)
        java.nio.file.Files.copy(f.toPath, tmp)
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(incoming, f.getName),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
        val t = handled.poll()
        if (t == null) throw new IllegalStateException(
          s"file ${f.getName} produced no micro-batch")
        val h = r.tracer.record("streaming.handler", t(0), t(3), r.tracer.current)
        r.tracer.record("streaming.sink", t(1), t(2), h)
      }
      "ok"
    }
    r.counters.add("streaming.batches", 1)
    r.counters.add("streaming.docs", docsPerFile.toDouble)
    r.counters.add("streaming.plan_s", Option(query.lastProgress).flatMap(p =>
      Option(p.durationMs.get("queryPlanning"))).map(_.longValue).getOrElse(0L) / 1e3)
  }

  override def close(): Unit = if (query != null) query.stop()

  override def verify(r: Runner): Seq[String] = {
    query.exception.map(e => s"stream failed: $e").toSeq ++ {
      val emitted = spark.read.parquet(out)
      // survivor sets of the batches every run reaches (warm-up plus the
      // minimum passes), checked against the recorded expectation
      emitted.where(col("batch") < StreamWorkload.CheckedBatches)
        .groupBy("batch").agg(count(lit(1)), sum(col("doc_id")))
        .collect().sortBy(_.getInt(0)).foreach { row =>
          r.outputs.getOrElseUpdate(s"survivors_batch_${row.getInt(0)}",
            mutable.ArrayBuffer.empty) += s"rows=${row.getLong(1)} sum=${row.getLong(2)}"
        }
      val survivors = emitted.select("doc_id").collect().map(_.getLong(0)).toSet
      // stream-versus-static check: the stream's three stateless gates,
      // applied once to every document the run streamed. The batch
      // `q_curation_pipeline` cannot serve as the reference: it inlines
      // its own gates with fixed parameters (30 tokens, a doc_id % 10
      // benchmark split of its own table, hashed df-capped shingles, no
      // LM gate), so it is not the same filter on the same documents
      val all = spark.read.parquet(backlog.take(next).map(_.getPath): _*)
      val gatedIds = EventStream.lmGateStream(EventStream.contaminationGateStream(
        EventStream.qualityScrubStream(all, "doc_id", "text", MinTokens, MaxRepPpm),
        "doc_id", "text", benchNgrams, BenchN, MinShared),
        "doc_id", "text", model, MinScorePpm)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val texts = all.where(col("doc_id").isin(survivors.toSeq: _*))
        .select("text").collect().map(_.getString(0))
      Seq(
        if (!survivors.subsetOf(gatedIds))
          Some(s"${(survivors -- gatedIds).size} stream survivors fail the batch gates")
        else None,
        if (texts.distinct.length != texts.length)
          Some("exact duplicates survived the stream")
        else None,
        if (survivors.isEmpty || survivors.size == gatedIds.size)
          Some(s"near-dup store removed nothing (${survivors.size} of ${gatedIds.size})")
        else None).flatten
    }
  }
}

object StreamWorkload {
  val CheckedBatches = 4
}
