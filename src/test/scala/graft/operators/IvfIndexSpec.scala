package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)

  test("training produces k centroids of the right dimension, deterministically") {
    val c1 = centroids.orderBy("centroid_id")
      .select("centroid_id", "c").as[(Int, Seq[Double])].collect()
    assert(c1.length === 8)
    assert(c1.forall(_._2.length === 64))
    val c2 = IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
      .orderBy("centroid_id").select("centroid_id", "c").as[(Int, Seq[Double])].collect()
    assert(c1.toSeq === c2.toSeq)
  }

  test("every vector lands in exactly one cell") {
    val assigned = IvfIndex.assign(emb, "vec_id", "embedding", centroids)
    assert(assigned.count() === emb.count())
    assert(assigned.select("vid").distinct().count() === emb.count())
    assert(assigned.select("centroid_id").distinct().count() <= 8)
  }

  test("buildIndex + searchIndexed: cell is the partition key, probes prune, results == search") {
    // the 100 TB layout: train once, buildIndex persists assignments
    // partitioned by cell, so a probe-N query lists only N cell dirs
    val root = java.nio.file.Files.createTempDirectory("ivf-cells").toString
    IvfIndex.buildIndex(emb, "vec_id", "embedding", centroids, root)
    val persisted = spark.read.parquet(root)
    assert(persisted.count() === emb.count())
    val q = emb.where(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    val indexed = IvfIndex.searchIndexed(persisted, "vec_id", centroids, q,
      topK = 10, nProbes = 4, excludeId = Some(0L))
    val scan = indexed.queryExecution.executedPlan
    val got = indexed.select("vec_id").as[Long].collect().toSeq
    // identical results to the rescan path — the index changes layout only
    val viaScan = IvfIndex.search(emb, "vec_id", "embedding", centroids, q,
        topK = 10, nProbes = 4, excludeId = Some(0L))
      .select("vec_id").as[Long].collect().toSeq
    assert(got === viaScan)
    assert(scan.toString.contains("PartitionFilters"))
    // the rerank's per-vid agg adds an AQE stage above the scan: walk
    // into the finalized adaptive plan to reach the file-scan leaf
    def scans(n: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val nFiles = scans(scan)
      .flatMap(_.metrics.get("numFiles").map(_.value)).headOption
    val totalCells = persisted.select("centroid_id").distinct().count()
    assert(nFiles.exists(_ < totalCells),
      s"probe read $nFiles files over $totalCells cells — no pruning")
  }

  test("probing half the cells recovers a reasonable share of true top-10") {
    val q = emb.where(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10, Some(0L))
      .select("vec_id").as[Long].collect().toSet
    val ivf = IvfIndex.search(emb, "vec_id", "embedding", centroids, q,
        topK = 10, nProbes = 4, excludeId = Some(0L))
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.size === 10)
    assert((ivf intersect exact).size >= 3,
      s"recall too low: ${(ivf intersect exact).size}/10")
  }

  test("meansByDim: fused partial-collect means == the SQL aggregate route, bit-exact") {
    // r21 pin: the per-round Lloyd mean moved from groupBy(cid, dim) over
    // an exploded frame to per-partition decimal partials combined on the
    // driver. Decimal addition is exact, so the two routes must agree to
    // the BIT on every mean, at any partitioning.
    val assigned = IvfIndex.assign(emb, "vec_id", "embedding", centroids)
      .select(col("centroid_id"), col("v"))
    for (parts <- Seq(1, 7)) {
      val df = if (parts == 1) assigned.coalesce(1) else assigned.repartition(parts)
      val fused = IvfIndex.meansByDim(
        df.select(col("centroid_id").as("cid_0"), col("v").as("__sub_0")), m = 1).head
      val sql = df
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("centroid_id", "dim")
        .agg((sum(col("x").cast("string").cast("decimal(28,12)"))
          .cast("double") / count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getInt(0)).map { case (cid, rs) =>
          (cid, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        }.toSeq.sortBy(_._1)
      assert(fused === sql, s"fused means diverged from SQL route at parts=$parts")
    }
  }

  test("adaptiveFloor counts partitions without planning a DeserializeToObject") {
    // Dataset.rdd plans a full-width DeserializeToObject over the frame
    // (an executed plan to any QueryExecutionListener); the floor reads
    // the partition count of the frame's own plan, the same number
    val deserializes = new java.util.concurrent.atomic.AtomicInteger()
    object Spy extends org.apache.spark.sql.execution.SparkStrategy {
      def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        if (plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.DeserializeToObject])
          deserializes.incrementAndGet()
        Nil
      }
    }
    val experimental =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val prior = experimental.extraStrategies
    experimental.extraStrategies = prior :+ Spy
    val frames = try {
      val fs = Seq(
        spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding"),
        spark.read.parquet(s"$sfDir/embeddings.parquet").where(col("vec_id") % 3 === 0),
        spark.range(0, 1000, 1, 3).toDF("id"))
      fs.foreach(IvfIndex.adaptiveFloor(_, perPartBytes = 1L))
      assert(deserializes.get === 0)
      fs
    } finally experimental.extraStrategies = prior
    frames.foreach(df =>
      assert(df.queryExecution.toRdd.getNumPartitions === df.rdd.getNumPartitions))
  }

  test("a centroid model one term past the literal bound fails before any job runs") {
    // k*d = 11 * 9091 = MaxLiteralTerms + 1
    val (k, d) = (11, 9091)
    assert(k.toLong * d === IvfIndex.MaxLiteralTerms + 1)
    val cents = (0 until k).map(c => (c, Seq.fill(d)(c.toDouble))).toDF("centroid_id", "c")
    val vecs = Seq((1L, Seq.fill(d)(0.5f))).toDF("vec_id", "embedding")
    val group = "ivf-literal-bound"
    spark.sparkContext.setJobGroup(group, group)
    val err = try intercept[IllegalArgumentException] {
      IvfIndex.assign(vecs, "vec_id", "embedding", cents)
    } finally spark.sparkContext.clearJobGroup()
    assert(err.getMessage.contains("k=11") && err.getMessage.contains("d=9091") &&
      err.getMessage.contains(IvfIndex.MaxLiteralTerms.toString), err.getMessage)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
      "a job ran before the bound check")
  }
}
