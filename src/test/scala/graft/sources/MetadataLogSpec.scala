package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

class MetadataLogSpec extends SparkSpec {
  import spark.implicits._

  test("runObserved records per-stage counts while executing each stage once") {
    // row-counting side effect INSIDE the executed plan: if any stage's
    // plan ran more than once, the accumulator over-counts
    val acc: LongAccumulator = spark.sparkContext.longAccumulator("stage1_rows")
    val tick = udf((x: Int) => { acc.add(1L); x })
    val stages = Seq(
      Pipeline.Stage("widen", df => df.withColumn("x2", tick(col("x")) * 2)),
      Pipeline.Stage("filter", df => df.where(col("x2") >= 4)))
    val records = Pipeline.runObserved("obs_pipe", (1 to 5).toDF("x"), stages,
      action = _.write.format("noop").mode("overwrite").save())
    assert(records.map(r => r.stage -> r.n_rows) === Seq("widen" -> 5L, "filter" -> 4L))
    assert(records.forall(_.status === "success"))
    // 5 input rows seen exactly once each — the O(N^2) per-stage count()
    // pattern would have pushed this to 10+
    assert(acc.value === 5L)
  }

  test("append/read round-trips hand-built run records") {
    val rec = MetadataLog.RunRecord("test_pipe", "load", "success", 3L, 12L, 1000L)
    val dir = java.nio.file.Files.createTempDirectory("mlog").toString
    MetadataLog.append(spark, Seq(rec), dir)
    MetadataLog.append(spark, Seq(rec.copy(stage = "transform")), dir)
    val back = MetadataLog.read(spark, dir)
    assert(back.count() === 2)
    assert(back.select("pipeline").distinct().as[String].head() === "test_pipe")
    assert(back.as[MetadataLog.RunRecord].collect().toSet ===
      Set(rec, rec.copy(stage = "transform")))
  }

  test("append writes from the driver: no Spark job, no partial file visible") {
    val dir = java.nio.file.Files.createTempDirectory("mlog").toString
    val rec = MetadataLog.RunRecord("p", "load", "success", 7L, 12L, 1000L)
    val (_, jobs) = jobsStarted(MetadataLog.append(spark, Seq(rec, rec.copy(stage = null)), dir))
    assert(jobs === 0)
    val names = new java.io.File(dir).list().toSeq
    assert(names.count(_.endsWith(".parquet")) === 1 &&
      names.forall(n => n.endsWith(".parquet") || n.startsWith(".")), names)
    val (back, readJobs) = jobsStarted(MetadataLog.read(spark, dir))
    assert(readJobs === 0)
    assert(back.as[MetadataLog.RunRecord].collect().toSet ===
      Set(rec, rec.copy(stage = null)))
  }

  test("a log mixing a Spark-written file and a driver-written file reads with today's schema") {
    val dir = java.nio.file.Files.createTempDirectory("mlog").toString
    val old = MetadataLog.RunRecord("p", "load", "failure", -1L, 5L, 1000L)
    // a log appended before the driver-side writer: Spark's own parquet
    // writer over the same case class
    Seq(old).toDF().write.mode("append").parquet(dir)
    val sparkSchema = spark.read.parquet(dir).schema
    val rec = old.copy(stage = "conform", status = "success", n_rows = 3L)
    MetadataLog.append(spark, Seq(rec), dir)
    val back = MetadataLog.read(spark, dir)
    assert(back.schema === sparkSchema)
    assert(spark.read.parquet(dir).schema === sparkSchema)
    assert(back.as[MetadataLog.RunRecord].collect().toSet === Set(old, rec))
  }
}
