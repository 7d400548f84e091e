package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketedTableSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed-by-key tables join without a shuffle exchange") {
    val facts = (1 to 1000).map(i => (i.toLong % 50, s"f$i")).toDF("k", "payload")
    val dims = (0 to 49).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    BucketedTable.write(facts, "graft_facts_b", "k", 8)
    BucketedTable.write(dims, "graft_dims_b", "k", 8)
    // disable broadcast so the join strategy decision is about shuffles
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = BucketedTable.read(spark, "graft_facts_b")
        .join(BucketedTable.read(spark, "graft_dims_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free co-located join:\n$plan")
      assert(joined.count() === 1000)
    }
  }
}
