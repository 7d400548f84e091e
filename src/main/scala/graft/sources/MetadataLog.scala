package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** Pipeline run metadata — the reference tracks per-processor run metadata
  * (rows processed, timing, status) via a decorator
  * (reference: src/data_processors/utils/metadata_logger.py metadata_tracker)
  * into a warehouse table. Same contract here, as a Spark-native log with
  * an appendable parquet sink.
  *
  * Per-stage row counts come from [[observed]]: it attaches an
  * `observe()` metric to the stage's plan, and the count is collected as
  * a side effect of the pipeline's ONE terminal action, so an N-stage
  * pipeline does O(N) total work. Use via [[Pipeline.runObserved]].
  *
  * The log itself is a parquet directory of [[RunRecord]]s. The records
  * are few and already on the driver, so [[append]] writes them as one
  * parquet file from the driver (no Spark job) and [[read]] reads with
  * the fixed [[RunRecordSchema]] (no footer-inference job). Files that
  * Spark's own writer appended to an older log have the same columns and
  * read alongside.
  */
object MetadataLog {

  case class RunRecord(pipeline: String, stage: String, status: String,
                       n_rows: Long, elapsed_ms: Long, logged_at_ms: Long)

  /** Attach a row-count observation to a stage's output. Free at execution
    * time (a per-partition counter folded into the stage's own pass); the
    * returned Observation yields the count after the terminal action. */
  def observed(pipeline: String, stage: String)(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation(s"$pipeline/$stage/${System.nanoTime()}")
    (df.observe(obs, count(lit(1)).as("n_rows")), obs)
  }

  /** Resolve an observation into a RunRecord (call AFTER the action). */
  def resolve(pipeline: String, stage: String, obs: Observation,
              elapsedMs: Long): RunRecord =
    RunRecord(pipeline, stage, "success",
      obs.get("n_rows").asInstanceOf[Long], elapsedMs, System.currentTimeMillis())

  /** The run log's columns: [[RunRecord]]'s encoding, as Spark writes it. */
  private val RunRecordSchema: StructType = Encoders.product[RunRecord].schema

  /** [[RunRecordSchema]] as a parquet message type, the one Spark's
    * writer produces for it (UTF-8 strings, non-null longs). */
  private val RunRecordParquet = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary pipeline (STRING);
      |  optional binary stage (STRING);
      |  optional binary status (STRING);
      |  required int64 n_rows;
      |  required int64 elapsed_ms;
      |  required int64 logged_at_ms;
      |}""".stripMargin)

  /** Append `records` to the log at `path` as one new parquet file,
    * written on the driver. The file is written under a `_`-prefixed
    * name, which readers skip, and renamed into place when complete, so
    * a reader never sees a partial file. */
  def append(spark: SparkSession, records: Seq[RunRecord], path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val tmp = new Path(path, s"_tmp-$name")
    val fs = tmp.getFileSystem(conf)
    try {
      val out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(RunRecordParquet)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val rows = new SimpleGroupFactory(RunRecordParquet)
      try records.foreach { r =>
        val g = rows.newGroup()
        Option(r.pipeline).foreach(g.append("pipeline", _))
        Option(r.stage).foreach(g.append("stage", _))
        Option(r.status).foreach(g.append("status", _))
        out.write(g.append("n_rows", r.n_rows).append("elapsed_ms", r.elapsed_ms)
          .append("logged_at_ms", r.logged_at_ms))
      } finally out.close()
      if (!fs.rename(tmp, new Path(path, name)))
        sys.error(s"metadata-log: could not publish $name under $path")
    } catch {
      case scala.util.control.NonFatal(e) => fs.delete(tmp, false); throw e
    }
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(RunRecordSchema).parquet(path)
}
