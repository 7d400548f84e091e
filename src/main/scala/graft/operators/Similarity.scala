package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k baseline and a
  * random-hyperplane LSH-bucketed scale path.
  *
  * Everything is higher-order-function arithmetic over `array<float>` cast
  * to double (no UDFs, codegen'd); top-k uses orderBy+limit which Spark
  * plans as TakeOrderedAndProject — per-partition heaps, no global sort.
  */
object Similarity {

  /** Left-to-right dot product — native codegen'd Expression (see
    * graft.plans.DotProduct); accumulation order matches DuckDB list
    * semantics so oracle doubles are bit-identical. */
  def dot(a: Column, b: Column): Column = graft.plans.DotProduct.dot(a, b)

  /** Driver-side sequential left-fold dot product — the SAME accumulation
    * order as the native [[graft.plans.DotProduct]] and DuckDB's
    * list_inner_product, so driver-computed literals (probe rankings, ADC
    * tables, codebook self-dots) are bit-identical to the distributed
    * doubles. ONE shared copy: a drifted re-implementation (fused
    * multiply-add, reversed fold) in any ANN path would silently break
    * the cross-engine exactness contract. */
  private[operators] def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    // loud on mismatched dims (the native expression returns NULL; a
    // driver-side helper failing fast beats an IndexOutOfBounds deep in
    // a fold); IndexedSeq-only so a(i) stays O(1)
    require(a.length == b.length,
      s"dotSeq: mismatched dims ${a.length} vs ${b.length}")
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine with a NULL (not NaN) result for zero-norm operands: 0/0
    * is NaN, and BOTH engines compare NaN greater than everything — an
    * all-zero vector would pass every `>= tau` gate and top every
    * descending sort, pairing with its whole cell/bucket (mass false
    * dedup, review-found). NULL instead fails the gate and sorts last
    * in both engines; the oracles mirror the NULLIF. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /** Brute-force top-k most-cosine-similar rows to one query vector.
    * The query vector is a literal (driver-side lookup of one row — the one
    * legitimate collect in this module) so the scan-side plan is a single
    * narrow projection + TakeOrdered.
    *
    * `excludeId` uses plain (null-rejecting) inequality: with it set, a
    * NULL-id row is excluded too — ids are the caller's join keys and a
    * NULL id has no exclusion semantics; don't rely on NULL-id rows
    * surviving one mode and not the other. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 queryVec: Array[Float], k: Int, excludeId: Option[Long]): DataFrame = {
    val q = array(queryVec.map(v => lit(v)): _*)
    val base = excludeId.map(e => df.where(col(idCol) =!= e)).getOrElse(df)
    base.select(
      col(idCol),
      cosine(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane matrix (planes x dim) in
    * [-1, 1): plane[p][d] = ((1103515245*(p*dim+d) + 12345) mod 2048)/1024 - 1.
    * Computed driver-side once; tiny literal, no broadcast needed. */
  def hyperplanes(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, d) =>
      // splitmix64 mix of the flat index: the previous single LCG step
      // mod 2048 depended only on (p*dim + d) mod 2048, so planes p and
      // p+D were IDENTICAL whenever D*dim % 2048 == 0 — at dim 1024 /
      // 1536 / 2048 (common embedding widths) the LSH degenerated to
      // <= 4 distinct planes with no error (review-found). The mixed
      // value keeps the [-1, 1) grid of 1/1024 steps (exact doubles),
      // so cross-engine exactness is unchanged — the oracle derives its
      // plane literals from THIS function.
      var z = (p.toLong * dim + d) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      ((z % 2048L + 2048L) % 2048L).toDouble / 1024.0 - 1.0
    }

  /** Driver-side bucket of one query vector — the SAME sign fold as
    * [[lshBucket]] via [[dotSeq]] (one shared dot implementation; a
    * drifted copy would flip sign-boundary bits vs the distributed
    * column and the oracle). */
  private def queryBucket(planes: Array[Array[Double]],
                          queryVec: Array[Float]): Long = {
    val q = queryVec.map(_.toDouble).toSeq
    planes.zipWithIndex.map { case (plane, p) =>
      if (dotSeq(plane.toSeq, q) >= 0) 1L << p else 0L
    }.reduce(_ | _)
  }

  /** LSH bucket id: sign bits of projections onto `planes` hyperplanes. */
  def lshBucket(vecCol: Column, planes: Array[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.length <= 63,
      s"lshBucket needs 1..63 planes (got ${planes.length}): bit p of the " +
        "bucket is 1L << p, and plane 64+ would alias onto low bits")
    (0 until planes.length).map { p =>
      val plane = array(planes(p).map(lit): _*)
      when(dot(vecCol, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** ANN via LSH: restrict the candidate set to the query's bucket, then
    * exact cosine rerank. At scale the bucket column is a pre-materialized
    * partition/bucketing key, so a query touches 1/2^planes of the data. */
  def annLsh(df: DataFrame, idCol: String, vecCol: String,
             queryVec: Array[Float], k: Int, nPlanes: Int,
             excludeId: Option[Long]): DataFrame = {
    val dim = queryVec.length
    val planes = hyperplanes(nPlanes, dim)
    val qBucket = queryBucket(planes, queryVec)
    val bucketed = df.withColumn("__bucket", lshBucket(col(vecCol), planes))
      .where(col("__bucket") === qBucket)
      .drop("__bucket")
    cosineTopK(bucketed, idCol, vecCol, queryVec, k, excludeId)
  }

  /** Multi-probe LSH: also search the buckets at Hamming distance 1 from
    * the query's bucket (each single-bit flip). Recovers most of the
    * recall lost to unlucky hyperplane splits for ~(nPlanes+1)/2^nPlanes
    * of the data scanned — the standard accuracy/cost knob between
    * single-probe LSH and brute force. */
  def annLshMultiProbe(df: DataFrame, idCol: String, vecCol: String,
                       queryVec: Array[Float], k: Int, nPlanes: Int,
                       excludeId: Option[Long]): DataFrame = {
    val dim = queryVec.length
    val planes = hyperplanes(nPlanes, dim)
    val qBucket = queryBucket(planes, queryVec)
    val probes = qBucket +: (0 until nPlanes).map(p => qBucket ^ (1L << p))
    val bucketed = df.withColumn("__bucket", lshBucket(col(vecCol), planes))
      .where(col("__bucket").isin(probes.map(b => b: Any): _*))
      .drop("__bucket")
    cosineTopK(bucketed, idCol, vecCol, queryVec, k, excludeId)
  }

  /** Cross-corpus semantic near-dup pairs — embedding-space benchmark
    * decontamination: bucket BOTH relations with the same hyperplanes and
    * equi-join on the bucket, then exact cosine on the candidates. With
    * `multiProbe` the (small) benchmark side is exploded to its Hamming-1
    * bucket neighborhood, so pairs split by one unlucky plane are still
    * found — recall is the LSH collision probability (high for
    * near-duplicate vectors, the decontamination regime), and the oracle
    * mirrors buckets and probes exactly so results stay cell-exact.
    *
    * Scale shape: the corpus is scanned once, bucketed by a per-row
    * expression, and hash-joined against the BROADCAST benchmark probe
    * table — no corpus shuffle at all; candidates per corpus row are
    * bounded by the benchmark bucket occupancy. */
  def crossCosinePairs(corpus: DataFrame, benchmark: DataFrame,
                       idCol: String, vecCol: String,
                       nPlanes: Int, dim: Int, tau: Double,
                       multiProbe: Boolean = true): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val c = corpus
      .select(col(idCol).as("doc_a"),
        transform(col(vecCol), x => x.cast("double")).as("va"))
      .select(col("doc_a"), col("va"), norm(col("va")).as("na"),
        lshBucket(col("va"), planes).as("__bucket"))
    val bBase = benchmark
      .select(col(idCol).as("doc_b"),
        transform(col(vecCol), x => x.cast("double")).as("vb"))
      .select(col("doc_b"), col("vb"), norm(col("vb")).as("nb"),
        lshBucket(col("vb"), planes).as("__b0"))
    val probeCols: Seq[Column] =
      if (!multiProbe) Seq(col("__b0"))
      else col("__b0") +: (0 until nPlanes).map(p =>
        col("__b0").bitwiseXOR(lit(1L << p)))
    val b = bBase.select(col("doc_b"), col("vb"), col("nb"),
      explode(array(probeCols: _*)).as("__bucket"))
    c.join(broadcast(b), Seq("__bucket"))
      .select(col("doc_a"), col("doc_b"),
        (dot(col("va"), col("vb")) /
          nullif(col("na") * col("nb"), lit(0.0))).as("cos_sim"))
      .where(col("cos_sim") >= tau)
  }

  /** SemDeDup-shaped near-dup candidate pairs at corpus scale: the IVF
    * cell assignment ([[IvfIndex.assign]]) is the BLOCKING key — real
    * corpora carry no label column, but a trained coarse quantizer puts
    * semantically-close vectors in the same cell, so exact cosine runs
    * only within cells via a plain equi-join on the cell id. Recall is
    * bounded by the quantizer (a pair split across cells is missed —
    * the standard SemDeDup trade; raise k for smaller cells and more
    * parallelism, or cluster residuals per cell downstream).
    *
    * Scale shape: the assignment is the r20 literal-centroid argmin — a
    * DETERMINISTIC zero-exchange row expression — so the two join sides
    * are `sameResult` by construction and need no cache: under a shuffle
    * join the cell-key exchange is deduplicated (ReusedExchange), under
    * a broadcast join the recomputed argmin is a cheap codegen map over
    * the scan. (The r11-r20 persist existed because the PRE-r20
    * assignment went through a non-deterministic `first(v)` aggregate
    * that broke `sameResult`; with that gone the cache bought nothing
    * and cost a materialization job + InMemoryTableScan pins — the
    * r20 q_semantic_dedup_keep sf1.5 drift suspect, VERDICT r20 #1.)
    * Pair work is Σ cell² instead of n², and the join is a hash/
    * sort-merge equi-join, never a cartesian. Norms are precomputed
    * per vector, not per pair. */
  def cellCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, tau: Double): DataFrame = {
    // Flat parallelism floor on the SHARED assigned frame (r21 — the
    // VERDICT r20 #1 adjudication): under the broadcast cell join the
    // pair generation (O(Σ cell²) dot products, the operator's real
    // work) streams at the probe side's SCAN parallelism — measured
    // 21.6 CPU-s across 6 tasks at sf1.5 (13.3 s wall, 32 cores idle;
    // the whole r19→r20 "drift" was this, unmasked once the r21 cache
    // drop stopped hiding the stage behind an InMemoryTableScan).
    // Flooring BEFORE the a/b split keeps the two sides sameResult, so
    // the shuffle-join ReusedExchange pin still holds; no-op whenever
    // the corpus already has >= box-width partitions (any real scale).
    val assigned0 =
      graft.operators.IvfIndex.assign(df, idCol, vecCol, centroids)
        .select(col("vid"), col("centroid_id").as("cell"), col("v"))
        .withColumn("nv", norm(col("v")))
    val sc = df.sparkSession.sparkContext
    val assigned =
      if (assigned0.rdd.getNumPartitions < sc.defaultParallelism)
        assigned0.repartition(sc.defaultParallelism)
      else assigned0
    val a = assigned.select(col("cell"), col("vid").as("vec_a"),
      col("v").as("va"), col("nv").as("na"))
    val b = assigned.select(col("cell"), col("vid").as("vec_b"),
      col("v").as("vb"), col("nv").as("nb"))
    a.join(b, Seq("cell"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("cell"), col("vec_a"), col("vec_b"),
        (dot(col("va"), col("vb")) /
          nullif(col("na") * col("nb"), lit(0.0))).as("cos_sim"))
      .where(col("cos_sim") >= tau)
  }

  /** Per-label embedding centroid (exact decimal mean per dimension).
    * posexplode -> groupBy (label, dim): the shuffle key is (label, dim) so
    * high-dim x many-labels parallelizes; sums are decimal => exact and
    * order-independent (oracle-stable). */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(
        // count exactly the ELEMENTS the sum saw: count(*) with a NULL
        // element (or a decimal-overflowed cast) silently deflates the
        // mean (review-found); the oracle mirrors COUNT of the same cast
        count(col("v").cast("string").cast("decimal(18,9)")).as("n"),
        // float -> shortest string -> decimal: both engines produce the
        // same shortest round-trip repr, so the decimal is identical
        // (direct float->decimal casts round differently per engine).
        sum(col("v").cast("string").cast("decimal(18,9)")).as("sum_v"))
      .select(
        col("label"), col("dim"), col("n"),
        (col("sum_v").cast("double") / col("n")).as("centroid_v"))
}
