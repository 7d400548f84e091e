package graft

import graft.pipelines.Catalog
import graft.streaming.EventStream

/** Spark jobs started by one call of the benchmark-facing write paths,
  * counted with [[SparkSpec.jobsStarted]]. On small inputs a path's cost
  * is mostly its per-job scheduling, so a change that raises a count
  * must say why, and one that lowers it updates the pin. */
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
}
