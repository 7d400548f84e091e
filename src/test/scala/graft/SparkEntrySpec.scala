package graft

class SparkEntrySpec extends SparkSpec {

  test("entry (driver smoke contract) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query is oracle-checked — no rows-only queries remain") {
    // q_multimodal_decode gained its analytic oracle in round 11
    // (SynthMedia closed-form aggregates); the suite is 100% verifiable
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly === Set.empty[String])
  }

  test("all queries run and return rows on sf0.001") {
    // through the drivers' loop: every query runs in its own scope and
    // fails if it leaves a cached relation behind
    val out = Driver.eachQuery(spark, "spec", Nil) { (_, query) =>
      query(spark, sfDir).count()
    }
    val failed = out.collect { case (name, None) => name }
    assert(failed.isEmpty, s"queries that threw or leaked a cache: $failed")
    // every query should produce at least one row at the smallest SF
    val empty = out.collect { case (name, Some(0L)) => name }
    assert(empty.isEmpty, s"queries with empty results: $empty")
  }
}
