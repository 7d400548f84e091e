package graft

import org.apache.spark.sql.functions.col

import graft.operators.Curate
import graft.pipelines.Catalog
import graft.streaming.EventStream

/** Spark jobs started by one call of the benchmark-facing write paths,
  * the prefix sums and the dbt marts, counted with
  * [[SparkSpec.jobsStarted]]. On small
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

  test("sourceShareCap: 8 jobs to build and collect a per-source cap") {
    val (kept, jobs) = jobsStarted(Curate.sourceShareCap(corpus, "source",
      Seq(col("q").desc, col("doc_id")), col("toks"), 300000L).collect())
    assert(kept.length === 240)
    assert(jobs === 8)
  }

  test("q_model_*: build and action jobs of the nine dbt marts") {
    // (jobs the builder starts, jobs of a noop write of its result); each
    // query in its own scope so no mart reads another's cache
    def jobs(q: String): (Int, Int) = PersistScope.within {
      val (df, build) = jobsStarted(SparkEntry.queries(q)(spark, sfDir))
      val (_, action) =
        jobsStarted(df.write.format("noop").mode("overwrite").save())
      (build, action)
    }
    val expected = Map(
      "q_model_uprn_usrn_count" -> ((0, 4)),
      "q_model_impact_scores" -> ((0, 14)),
      "q_model_authority_scores" -> ((16, 1)),
      "q_model_wellbeing" -> ((0, 14)),
      "q_model_permit_details" -> ((0, 15)),
      "q_model_data_tests" -> ((0, 14)),
      "q_model_impact_scores_england" -> ((0, 14)),
      "q_model_authority_scores_england" -> ((16, 1)),
      "q_model_permit_details_england" -> ((0, 14)))
    // a JVM's first build of a mart reads each table's footer (the
    // Tables read cache) and plans the orders scan once for its
    // partition count (IvfIndex.adaptiveFloor): build the lazy marts
    // first so that one-off work lands in no mart's count
    expected.keys.filterNot(_.contains("authority"))
      .foreach(q => SparkEntry.queries(q)(spark, sfDir))
    assert(expected.map { case (q, _) => q -> jobs(q) } === expected)
  }
}
