package graft

import scala.collection.mutable

/** The one driver harness: the test session is the engine the drivers
  * run, and the per-query loop validates, survives failures and leaves
  * no cached block behind. */
class DriverSpec extends SparkSpec {
  private def cacheManager = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  test("the shared test session carries the drivers' session settings") {
    val conf = spark.sparkContext.getConf
    Driver.settings(4).foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), k)
    }
  }

  test("the query loop rejects an unknown name before any query runs") {
    val ran = mutable.Buffer[String]()
    val queries: Map[String, Driver.Query] =
      Map("q_a" -> ((s, _) => s.range(1).toDF()))
    val e = intercept[IllegalArgumentException] {
      Driver.eachQuery(spark, "spec", Seq("q_a", "q_typo"), queries) {
        (name, _) => ran += name
      }
    }
    assert(e.getMessage.contains("q_typo"))
    assert(ran.isEmpty)
  }

  test("a throwing query counts as failed and the next query still runs") {
    val queries: Map[String, Driver.Query] = Map(
      "q_boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_ok" -> ((s, _) => s.range(3).toDF()))
    val out = Driver.eachQuery(spark, "spec", Seq("q_boom", "q_ok"), queries) {
      (_, query) => query(spark, sfDir).count()
    }
    assert(out == Seq("q_boom" -> None, "q_ok" -> Some(3L)))
  }

  test("the cache manager is empty after each query") {
    val queries: Map[String, Driver.Query] = Map(
      "q_a" -> ((s, _) => PersistScope.cache(s.range(10).toDF("x"))),
      "q_b" -> ((s, _) => PersistScope.cache(s.range(20).toDF("x"))))
    val emptyAtStart = mutable.Buffer[Boolean]()
    val cachedInBody = mutable.Buffer[Boolean]()
    val out = Driver.eachQuery(spark, "spec", Seq("q_a", "q_b"), queries) {
      (_, query) =>
        emptyAtStart += cacheManager.isEmpty
        query(spark, sfDir).count()
        cachedInBody += !cacheManager.isEmpty
    }
    assert(out.forall(_._2.isDefined))
    assert(cachedInBody == Seq(true, true))
    assert(emptyAtStart == Seq(true, true))
    assert(cacheManager.isEmpty, "q_b's cached block survived the loop")
  }

  test("a query that persists outside PersistScope counts as failed") {
    val queries: Map[String, Driver.Query] = Map(
      "q_leak" -> ((s, _) => s.range(10).toDF("x").persist()),
      "q_next" -> ((s, _) => s.range(20).toDF("x")))
    val emptyAtStart = mutable.Buffer[Boolean]()
    val out = Driver.eachQuery(spark, "spec", Seq("q_leak", "q_next"),
      queries) { (_, query) =>
        emptyAtStart += cacheManager.isEmpty
        query(spark, sfDir).count()
    }
    assert(out == Seq("q_leak" -> None, "q_next" -> Some(20L)))
    assert(emptyAtStart == Seq(true, true),
      "q_leak's persisted block survived into q_next")
    assert(cacheManager.isEmpty)
  }
}
