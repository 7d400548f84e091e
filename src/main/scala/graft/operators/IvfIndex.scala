package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: partition vectors by nearest centroid,
  * probe only the closest cells at query time — the other scale path for
  * similarity search next to random-hyperplane LSH (Similarity.annLsh).
  *
  * Spark-first shape: the centroids are MODEL STATE — k·d doubles — so
  * they ride in the PLAN as literals (the broadcast-model split every
  * curation gate uses), and nearest-centroid assignment is ONE
  * codegen'd row expression: `array_min` over `struct(dist2, cid)`,
  * the same total order as `min_by(cid, struct(dist2, cid))` (ties on
  * the distance go to the smaller cid). No crossJoin, no per-vid
  * shuffle — the assignment column costs ZERO exchanges at any DATA
  * size. The supported MODEL size is bounded, though (ADVICE r20): the
  * expression carries O(k·d) literals, so past roughly k·d ≈ 10⁵ terms
  * Janino's 64 KB method limit degrades codegen to interpreted eval
  * (correct, slower) and the literal arrays bloat every plan string.
  * [[MaxLiteralTerms]] enforces that bound: a larger model fails before
  * its assignment job runs, naming k, d and the limit. The literal form
  * is for the curation-gate regime (k tens to hundreds); a deployment
  * wanting FAISS-scale k (10⁴+ cells) should shard training per coarse
  * bucket rather than widen one argmin expression. A
  * Lloyd training round is then a single job: row-wise assignment →
  * per-(cell, dim) decimal-exact means (map-side combinable, one
  * shuffle of ≤ k·d·parts partial rows) → a ≤ k·d-row collect that
  * becomes the next round's literals. Driver-held round state also
  * makes training inherently executor-loss-safe — there is no lineage
  * to checkpoint (the pre-r20 form crossJoined a checkpointed centroid
  * table and re-shuffled every vector per round; the rewrite removed
  * ~3 exchanges + 1 checkpoint action per round and is pinned
  * row-identical by the unchanged DuckDB oracle).
  *
  * At 100 TB the assignment column becomes the table's partition key so
  * a query touches nProbes/k of the data ([[buildIndex]]).
  *
  * Training is deterministic k-means (init = first k vectors by id, L
  * Lloyd rounds) — no RNG, reproducible across runs and engines; sums
  * are string-routed decimals so DuckDB's unrolled-CTE oracle
  * reproduces training bit-for-bit (see OracleSql.ivfMeans).
  */
object IvfIndex {

  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** Scale-adaptive parallelism floor for cheap-per-row vector ops
    * (guide §2: derive partitioning from input size, not a flat
    * core-count constant): fan a small relation out to one partition
    * per `perPartBytes` of SOURCE bytes, capped at the box width. A
    * bench-tier table under `perPartBytes` keeps its natural split
    * count — no exchange at all, so the per-map shuffle-file constants
    * (measured r21: ~0.45 s of open/mmap syscall contention per
    * 32-map round at sf0.1) vanish; a multi-GB relation still floors
    * to full parallelism, and at real scale the input already has
    * more partitions than cores and this is a no-op. Text-heavy
    * operators (Curate.contamination, q_geo_geojson) keep their flat
    * floors: their per-row CPU dwarfs the exchange, the measured
    * trade that motivated the floors in the first place. */
  private[graft] def adaptiveFloor(df: DataFrame,
                                   perPartBytes: Long = 1L << 20): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (bytes / perPartBytes).min(sc.defaultParallelism)
      .max(1).toInt
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** ||v-c||² against a LITERAL centroid: vv - 2·(v·c) + cc, the dot as
    * the native sequential left fold (== DuckDB list_inner_product);
    * `cc` is pre-folded driver-side with the same sequential order. */
  private def distToLit(v: Column, vv: Column, c: Seq[Double],
                        cc: Double): Column =
    vv - lit(2.0) * Similarity.dot(v, typedLit(c)) + lit(cc)

  /** Most centroid literal terms (k·d) one assignment expression may
    * carry: the r21 estimate of where the generated argmin passes the
    * 64 KB method limit (see object doc). */
  val MaxLiteralTerms: Long = 100000L

  /** Fail, naming k, d and the limit, when a k-centroid, d-dimensional
    * model is too large for the literal assignment form. */
  private[operators] def requireLiteralBound(what: String, k: Int, d: Int): Unit =
    require(k.toLong * d <= MaxLiteralTerms,
      s"$what: k=$k centroids of d=$d dimensions need k*d = ${k.toLong * d} " +
        s"literal terms in one assignment expression, over the limit of " +
        s"$MaxLiteralTerms; train fewer or lower-dimensional centroids")

  /** Nearest-centroid id as one row expression (see object doc). */
  private def nearestLit(v: Column, vv: Column,
                         cents: Seq[(Int, Seq[Double])]): Column = {
    requireLiteralBound("IvfIndex", cents.size,
      cents.map(_._2.length).foldLeft(0)(math.max))
    array_min(array(cents.map { case (cid, c) =>
      struct(distToLit(v, vv, c, Similarity.dotSeq(c, c)).as("d"),
        lit(cid).as("id"))
    }: _*)).getField("id")
  }

  /** The k-row centroid table as driver state (bounded by construction
    * — the same legitimacy as collecting k-means centroids anywhere). */
  private def collectCentroids(centroids: DataFrame): Seq[(Int, Seq[Double])] =
    centroids.select(col("centroid_id"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  /** Partial-collect ceiling for [[meansByDim]]: past this many input
    * partitions the per-partition partials (≤ k·d each) would approach
    * driver scale, so the per-round mean falls back to the SQL
    * aggregate (one shuffle of ≤ k·d·parts partial rows — the r20
    * shape). Local and bench tiers sit far under it. */
  private[operators] val MaxPartialParts = 2048

  /** Per-(cell, dim) decimal-exact means of an assigned frame
    * (columns: centroid_id int, v array<double>) as driver state —
    * sorted (cid, per-dim means). The double->decimal cast is the
    * string route (shortest-string repr is engine-identical) and stays
    * a CODEGEN'D column expression; only the exact decimal additions
    * move: per-partition partial (sum, count) pairs per (cell, dim)
    * ride one collect and combine on the driver. Decimal addition is
    * exact and associative, so the totals — and the single
    * sum.toDouble / count division — are bit-identical to the SQL
    * `groupBy(cid, dim).agg(sum(decimal).cast(double) / count(1))`
    * route regardless of partitioning (IvfIndexSpec pins the two paths
    * equal). Counts mirror `count(lit(1))` under posexplode exactly:
    * every element position of a non-null vector counts, null array
    * rows contribute nothing. ONE job, ZERO exchanges. */
  private[operators] def meansByDim(assigned: DataFrame): Seq[(Int, Seq[Double])] = {
    val decs = assigned.select(col("centroid_id"),
      transform(col("v"), x => x.cast("string").cast("decimal(28,12)")).as("vd"))
    val rdd = decs.rdd
    val entries: Array[(Int, Int, String, Long)] =
      if (rdd.getNumPartitions > MaxPartialParts)
        decs.select(col("centroid_id"), posexplode(col("vd")).as(Seq("dim", "x")))
          .groupBy("centroid_id", "dim")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1),
            if (r.isNullAt(2)) null else r.getDecimal(2).toString, r.getLong(3)))
      else
        rdd.mapPartitions { it =>
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[(Int, Int), (java.math.BigDecimal, Long)]
          it.foreach { r =>
            if (!r.isNullAt(1)) {
              val cid = r.getInt(0)
              val vd = r.getSeq[java.math.BigDecimal](1)
              var d = 0
              while (d < vd.length) {
                val (s0, n0) = acc.getOrElse((cid, d), (null: java.math.BigDecimal, 0L))
                val x = vd(d)
                val s = if (x == null) s0 else if (s0 == null) x else s0.add(x)
                acc((cid, d)) = (s, n0 + 1L)
                d += 1
              }
            }
          }
          // sums ride as strings: BigDecimal.toString round-trips
          // exactly by contract, and strings dodge serializer drift
          acc.iterator.map { case ((cid, d), (s, n)) =>
            (cid, d, if (s == null) null else s.toString, n) }
        }.collect()
    val total = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Int), (java.math.BigDecimal, Long)]
    entries.foreach { case (cid, d, sStr, n) =>
      val s = if (sStr == null) null else new java.math.BigDecimal(sStr)
      val (s0, n0) = total.getOrElse((cid, d), (null: java.math.BigDecimal, 0L))
      val comb = if (s == null) s0 else if (s0 == null) s else s0.add(s)
      total((cid, d)) = (comb, n0 + n)
    }
    total.toSeq.groupBy(_._1._1).iterator.map { case (cid, es) =>
      (cid, es.sortBy(_._1._2).map { case ((_, d), (s, n)) =>
        if (s == null) throw new IllegalStateException(
          s"meansByDim: all-null sum for cell $cid dim $d (corrupt vectors)")
        s.doubleValue / n // == sum(decimal).cast(double) / count(1)
      }.toSeq)
    }.toSeq.sortBy(_._1)
  }

  /** Train k centroids with `iters` Lloyd rounds.
    * Returns (centroid_id, centroid: array<double>) — a LocalRelation,
    * so downstream probes/assignments pay no recompute.
    *
    * Centroid ids are DENSE 0..k-1 by vid order, not vid.cast(int):
    * 64-bit (e.g. hash-derived) vids would wrap modulo 2^32 and two
    * colliding initial vectors would silently merge clusters. A cell
    * that loses every vector in a round drops out of the means (GROUP
    * BY semantics — identical in the SQL oracle). */
  def train(df: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int): DataFrame = graft.PersistScope.within {
    val spark = df.sparkSession
    import spark.implicits._
    // scale-adaptive parallelism floor before caching ([[adaptiveFloor]]):
    // training runs `iters` map stages over this cache; a large input
    // still fans out to the box, a bench-tier one keeps its natural
    // split count so the per-round shuffle stays a handful of map tasks.
    val src = adaptiveFloor(
      df.select(col(idCol).as("vid"), vecD(col(vecCol)).as("v")))
    val vecs = graft.PersistScope.cache(src
      .withColumn("vv", Similarity.dot(col("v"), col("v"))))
    // the k init rows are numbered DRIVER-side (take(k) of a
    // TakeOrdered is bounded by contract) — an unpartitioned row_number
    // window here would be equivalent but spams `WindowExec: No
    // Partition Defined` into every ANN bench run
    var cents: Seq[(Int, Seq[Double])] =
      vecs.orderBy("vid").limit(k).select(col("v")).collect()
        .zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](0)) }.toSeq
    for (_ <- 0 until iters) {
      // ONE job and ZERO exchanges per round (r21; guide §2.4): the
      // row-wise argmin assignment and the string-routed double->decimal
      // cast (shortest-string repr is engine-identical; direct
      // double->decimal rounding is not) stay CODEGEN'D column
      // expressions — the assignment in its OWN select below any
      // generator, as before (Project-above-Generate re-evaluates the
      // k-fold distance per exploded dimension, measured 64×) — but the
      // per-(cell, dim) means are now PARTIAL decimal sums per
      // partition, combined on the driver: decimal addition is exact
      // and associative, so the combined sums (and the one double
      // division) are bit-identical to the previous
      // groupBy(cid, dim).agg(sum(decimal)) route — the r20 shape paid
      // a shuffle + an AQE stage barrier per round for the same ≤ k·d
      // numbers (measured ~0.33 s/round warm at sf0.1 vs ~0.1 s fused).
      // Each partition ships ≤ k·d (sum, count) partials; the SQL
      // aggregate route remains for inputs too wide to collect partials
      // from ([[meansByDim]] falls back past `MaxPartialParts`).
      cents = meansByDim(
        vecs.select(nearestLit(col("v"), col("vv"), cents).as("centroid_id"),
          col("v")))
    }
    cents.toDF("centroid_id", "c")
  }

  /** Assign every row of `df` to its trained cell (the persisted
    * layout's partition key at scale): columns (vid, centroid_id, v),
    * one output row PER INPUT ROW — a duplicated vid stays duplicated
    * (a streamed index can legitimately carry one; [[searchIndexed]]'s
    * rerank takes each vid's best cosine, so duplicates never crowd
    * the top-k). Zero shuffles: the centroids ride as literals. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids)
    df.select(col(idCol).as("vid"), vecD(col(vecCol)).as("v"))
      .withColumn("vv", Similarity.dot(col("v"), col("v")))
      .select(col("vid"),
        nearestLit(col("v"), col("vv"), cents).as("centroid_id"),
        col("v"))
  }

  /** The `nProbes` cell ids nearest the query — a driver-side argmin over
    * the k-row centroid table (same legitimacy as the centroid collect in
    * training). Sequential left-fold dot products (== DuckDB
    * list_inner_product), so the probe ranking is oracle-reproducible:
    * d2 = cc - 2*cq + qq. */
  private def probeCells(centroids: DataFrame, q: Array[Double],
                         nProbes: Int): Seq[Int] = {
    val qq = Similarity.dotSeq(q, q)
    collectCentroids(centroids).map { case (id, c) =>
      val d2 = Similarity.dotSeq(c, c) - 2.0 * Similarity.dotSeq(c, q) + qq
      (id, d2)
    }.sortBy { case (id, d) => (d, id) }.take(nProbes).map(_._1)
  }

  /** Exact cosine rerank of the probed cells (columns vid, v) -> top-k.
    * One row per vid even when the index holds duplicates: a streamed
    * index can legitimately carry the same vid twice (an annIngestBatch
    * replay after a store compaction, or a crash between a compaction's
    * publish and its deletes), and a duplicated vid must not crowd
    * distinct neighbors out of the top-k — take each vid's best cosine
    * (the per-vid max; for byte-identical replay rows it is THE value).
    * The agg shuffles only the probed cells' rows, never the index. */
  private def rerank(cells: DataFrame, idCol: String, q: Array[Double],
                     topK: Int, excludeId: Option[Long]): DataFrame = {
    val qCol = array(q.map(lit): _*)
    val base = excludeId.map(e => cells.where(col("vid") =!= e)).getOrElse(cells)
    base.select(col("vid").as(idCol),
        // NULL (not NaN) on zero norms: NaN tops every descending sort
        // in both engines — see Similarity.cosine
        (Similarity.dot(col("v"), qCol) /
          nullif(Similarity.norm(col("v")) * Similarity.norm(qCol),
            lit(0.0))).as("cos_sim"))
      .groupBy(col(idCol)).agg(max(col("cos_sim")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** ANN search over the RAW vector table: probe the `nProbes` cells
    * nearest the query, exact cosine rerank inside them. Re-derives the
    * cell assignment of every row (one linear pass) — correct anywhere,
    * but at scale use [[buildIndex]] + [[searchIndexed]], which skip the
    * unprobed cells' data entirely via partition pruning. */
  def search(df: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame, queryVec: Array[Float],
             topK: Int, nProbes: Int, excludeId: Option[Long]): DataFrame = {
    val q = queryVec.map(_.toDouble)
    val probes = probeCells(centroids, q, nProbes)
    val cells = assign(df, idCol, vecCol, centroids)
      .where(col("centroid_id").isin(probes.map(p => p: Any): _*))
    rerank(cells, idCol, q, topK, excludeId)
  }

  /** Materialize the index: assign every vector to its cell and persist
    * the assignment PARTITIONED BY the cell id. This is the 100 TB
    * layout — each cell is its own parquet directory, so a probe-N query
    * lists and reads exactly N directories (partition pruning), touching
    * ~nProbes/k of the data instead of rescanning and re-assigning the
    * full table per query. */
  def buildIndex(df: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame, path: String): Unit =
    graft.sinks.ParquetSink.writePartitioned(
      assign(df, idCol, vecCol, centroids)
        .select(col("vid"), col("v"), col("centroid_id")),
      path, Seq("centroid_id"))

  /** ANN search over a [[buildIndex]]-materialized layout (read with
    * `spark.read.parquet(path)`): the `centroid_id.isin(probes)` filter
    * is a PARTITION filter — Spark never opens the unprobed cells'
    * files. Same results as [[search]] with the same centroids. */
  def searchIndexed(indexed: DataFrame, idCol: String,
                    centroids: DataFrame, queryVec: Array[Float],
                    topK: Int, nProbes: Int, excludeId: Option[Long]): DataFrame = {
    val q = queryVec.map(_.toDouble)
    val probes = probeCells(centroids, q, nProbes)
    rerank(indexed.where(col("centroid_id").isin(probes.map(p => p: Any): _*)),
      idCol, q, topK, excludeId)
  }
}
