package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Evidence for SURVEY §4: AQE splits skewed join partitions at runtime,
  * so the grid/band/key joins here survive hot keys without manual
  * salting (salting remains available via Stats.saltedAgg for
  * aggregations, where AQE does not help). */
class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Force-low AQE skew thresholds around `body` (saving/restoring the
    * session confs) so a test-sized hot partition triggers the same
    * split a multi-GB one would in production. */
  private def withSkewConf[T](body: => T): T =
    withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      // the coalescing floor too (default 1 MB): AQE may coalesce an
      // operator-persisted intermediate (canChangeCachedPlanOutputPartitioning),
      // and a test-sized one would collapse to ONE partition — one map
      // task feeding the join shuffle, whose hot partition AQE then
      // cannot split (splits cut along map outputs); a multi-GB
      // intermediate keeps its partitions
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8KB",
      // enough partitions that the hot bucket's partition towers over
      // the MEDIAN one (the skew detector's baseline) — with the spec
      // session's default handful, the hot buckets ARE the median
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("minhash LSH band join: AQE splits a pathological hot bucket on the OPERATOR's own plan") {
    // 1500 byte-identical documents share every minhash signature, so
    // ONE (band, sig) bucket holds 1500 x 4 banded rows on each side of
    // the self-join — the sub-cap hot bucket (maxBucket ABOVE the clump:
    // the df-cap is the first defense, AQE is the residual-skew one) that
    // would straggle a single task at 100 TB. 300 singleton docs keep the
    // median partition small so the skew detector has a baseline.
    val docs = ((0 until 1500).map(i => (i.toLong, "the same boilerplate " +
        "page body repeated verbatim across the corpus")) ++
      (0 until 300).map(i => (10000L + i,
        s"u${i}a u${i}b u${i}c u${i}d u${i}e"))).toDF("doc_id", "text")
    withSkewConf {
      val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        k = 16, bands = 4, maxBucket = 4000)
      // collect() (not count(): that builds its OWN QueryExecution and
      // the inspected plan would never run) — every clump pair must be
      // a candidate; chance band collisions between disjoint singleton
      // token sets may add a few more
      assert(pairs.collect().length >= 1500 * 1499 / 2)
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to split the hot LSH bucket:\n${plan.take(4000)}")
    }
  }

  test("IVF cell cosine join: AQE splits a pathological hot cell on the OPERATOR's own plan") {
    // 1200 vectors all land in cell 0 (near the first centroid); 40 in
    // cell 1 — the mega-cell self-join partition AQE must split
    val r = new scala.util.Random(7)
    val vecs = ((0 until 1200).map(i => (i.toLong,
        Seq(10.0 + r.nextDouble(), r.nextDouble(), r.nextDouble(),
          r.nextDouble()))) ++
      (0 until 40).map(i => (5000L + i,
        Seq(r.nextDouble(), 10.0 + r.nextDouble(), r.nextDouble(),
          r.nextDouble())))).toDF("id", "emb")
    val centroids = Seq(
      (0, Seq(10.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 10.0, 0.0, 0.0)))
      .toDF("centroid_id", "c")
    withSkewConf {
      val pairs = Similarity.cellCosinePairs(vecs, "id", "emb", centroids,
        tau = 0.98)
      assert(pairs.collect().nonEmpty) // executes THIS QueryExecution
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to split the hot IVF cell:\n${plan.take(4000)}")
    }
  }

  test("AQE skew-join splits a pathologically hot key") {
    // 200k rows on ONE key joined against a small per-key table, with
    // thresholds forced low enough that the optimization must trigger
    // payload is incompressible (sha2 of the row id) so the hot key's
    // shuffle partition stays big after compression
    val left = spark.range(200000)
      .select(when(col("id") < 190000, 0L).otherwise(col("id")).as("k"),
        sha2(col("id").cast("string"), 256).as("payload"))
    val right = spark.range(10000).select(col("id").as("k"), (col("id") * 2).as("v"))
    withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = left.join(right, "k")
        .select(count(col("payload")).as("n"))
      // 190k rows hit the hot key 0; ids >= 190000 have no right match.
      // collect() executes THIS QueryExecution, so the AQE final plan
      // (isFinalPlan=true) is inspectable afterwards.
      assert(joined.collect().head.getLong(0) === 190000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected AQE skew split:\n$plan")
    }
  }
}
