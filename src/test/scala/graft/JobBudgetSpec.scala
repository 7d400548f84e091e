package graft

import org.apache.spark.sql.functions.col

import graft.operators.Curate
import graft.pipelines.Catalog
import graft.streaming.EventStream

/** Spark jobs started by one call of the benchmark-facing write paths
  * and prefix sums, counted with [[SparkSpec.jobsStarted]]. On small
  * inputs a path's cost is mostly its per-job scheduling, so a change
  * that raises a count must say why, and one that lowers it updates the
  * pin. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("nearDupFilterBatch: 10 jobs for a trigger without a store, 11 with one") {
    val gate = EventStream.nearDupFilterBatch(tmp("budget-neardup") + "/sigs",
      "doc_id", "text", emit = _.write.format("noop").mode("overwrite").save())
    val (_, first) = jobsStarted(gate(Seq(
      1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "totally different words here").toDF("doc_id", "text"), 0L))
    val (_, second) = jobsStarted(gate(Seq(
      4L -> "alpha beta gamma delta", 5L -> "yet another fresh document")
      .toDF("doc_id", "text"), 1L))
    assert((first, second) === ((10, 11)))
  }

  test("Catalog.run: 2 jobs to land the street_manager fixture") {
    val fixture = getClass.getResource("/graft/pipelines/street_manager.zip").getPath
    val (tables, jobs) = jobsStarted(
      Catalog.run(spark, "street_manager", fixture, tmp("budget-wh")))
    assert(tables.keySet === Set("01_2025"))
    assert(jobs === 2)
  }

  /** 300 docs over three sources of uneven size, quality ties broken by
    * id (a total order). */
  private def corpus = (1 to 300).map(i =>
      (i.toLong, Seq("web", "web", "books", "code")(i % 4), (i % 17).toLong,
        (i % 23 + 1).toLong))
    .toDF("doc_id", "source", "q", "toks")

  test("tokenBudgetSelect: 8 jobs to build and collect a budget cut") {
    val (kept, jobs) = jobsStarted(Curate.tokenBudgetSelect(corpus,
      Seq(col("q").desc, col("doc_id")), col("toks"), 1000L).collect())
    assert(kept.length === 83)
    assert(jobs === 8)
  }

  test("sourceShareCap: 11 jobs to build and collect a per-source cap") {
    val (kept, jobs) = jobsStarted(Curate.sourceShareCap(corpus, "source",
      Seq(col("q").desc, col("doc_id")), col("toks"), 300000L).collect())
    assert(kept.length === 240)
    assert(jobs === 11)
  }
}
