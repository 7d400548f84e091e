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
  * codegen'd row expression, [[nearest]]: the k squared distances as
  * one primitive double array, `array_position(d2, array_min(d2))`
  * mapped back to the cid (ties on the distance go to the smaller cid).
  * The same kernel assigns IVF cells, encodes PQ codes
  * ([[PqIndex.encode]]) and runs both trainings' rounds. No crossJoin,
  * no per-vid shuffle — the assignment column costs ZERO exchanges at
  * any DATA size. The supported MODEL size is bounded, though (ADVICE
  * r20): the expression carries O(k·d) literals, so past roughly
  * k·d ≈ 10⁵ terms Janino's 64 KB method limit degrades codegen to
  * interpreted eval (correct, slower) and the literal arrays bloat every
  * plan string. [[MaxLiteralTerms]] enforces that bound: a larger model
  * fails before its assignment job runs, naming k, d and the limit. The
  * literal form is for the curation-gate regime (k tens to hundreds); a
  * deployment wanting FAISS-scale k (10⁴+ cells) should shard training
  * per coarse bucket rather than widen one argmin expression.
  *
  * Training is deterministic k-means ([[lloyd]]: init = first k vectors
  * by id, L Lloyd rounds) — no RNG, reproducible across runs and
  * engines. IVF training is the one-subspace case of PQ's per-subspace
  * training ([[PqIndex.trainBooks]]). A round is a single job with no
  * exchange: row-wise assignment → per-(subspace, cell, dim)
  * decimal-exact partial sums per partition ([[meansByDim]]) → a
  * ≤ k·d-entry driver combine that becomes the next round's literals.
  * Driver-held round state also makes training executor-loss-safe —
  * there is no lineage to checkpoint. Sums are string-routed decimals
  * so DuckDB's unrolled-CTE oracle reproduces training bit-for-bit (see
  * OracleSql.ivfMeans).
  *
  * At 100 TB the assignment column becomes the table's partition key so
  * a query touches nProbes/k of the data ([[buildIndex]]).
  */
object IvfIndex {

  /** Centroids of one subspace as (cid, centroid), sorted by cid. Cids
    * are ids, not positions: a trained cell that empties drops out and
    * its survivors keep their ids. */
  private[operators] type Book = Seq[(Int, Seq[Double])]

  // transform(_.cast), NOT c.cast(array<double>), deliberately: a bare
  // Cast-of-attribute is "cheap" to CollapseProject, so the alias gets
  // INLINED and re-evaluated at every use site (measured +35% on
  // q_ann_ivf's equivalent); the HOF form is non-cheap and stays
  // materialized once. Elementwise float->double widening is exact
  // either way.
  private[operators] def vecD(c: Column): Column = transform(c, x => x.cast("double"))

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
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = (bytes / perPartBytes)
      .min(df.sparkSession.sparkContext.defaultParallelism).max(1).toInt
    Guards.floorPartitions(df, want)
  }

  /** Most centroid literal terms (k·d) one assignment expression may
    * carry: the r21 estimate of where the generated argmin passes the
    * 64 KB method limit (see object doc). */
  val MaxLiteralTerms: Long = 100000L

  /** Fail, naming k, d and the limit, when a k-centroid, d-dimensional
    * model is too large for the literal assignment form. */
  private def requireLiteralBound(what: String, k: Int, d: Int): Unit =
    require(k.toLong * d <= MaxLiteralTerms,
      s"$what: k=$k centroids of d=$d dimensions need k*d = ${k.toLong * d} " +
        s"literal terms in one assignment expression, over the limit of " +
        s"$MaxLiteralTerms; train fewer or lower-dimensional centroids")

  /** The `m` subspaces of `v`: one subspace is the whole vector, more
    * are consecutive `sub`-element slices. */
  private[operators] def slices(v: Column, m: Int, sub: Int): Seq[Column] =
    if (m == 1) Seq(v) else (0 until m).map(s => slice(v, s * sub + 1, sub))

  /** `keep` plus, per subspace s, its vector `__sub_s` and self-dot
    * `__vv_s`, each in its own projection so the k distance terms of
    * [[nearest]] share them instead of re-evaluating them per term. */
  private[operators] def withSubspaces(df: DataFrame, keep: Seq[Column],
                                       subs: Seq[Column]): DataFrame =
    df.select(keep ++ subs.zipWithIndex.map { case (c, s) => c.as(s"__sub_$s") }: _*)
      .select(col("*") +: subs.indices.map(s =>
        Similarity.dot(col(s"__sub_$s"), col(s"__sub_$s")).as(s"__vv_$s")): _*)

  /** THE nearest-centroid kernel: per subspace s of a [[withSubspaces]]
    * frame, the 1-based position in `books(s)` of the centroid nearest
    * `__sub_s`. Distances are `vv − 2·dot + cc` with the native
    * left-fold dot and `cc` folded driver-side in the same order
    * (== DuckDB list_inner_product); the argmin is a primitive
    * double-array min and the first position holding it — no per-row
    * struct allocation or struct comparators (profiled at sf1.5: the
    * struct form spent ~170 µs/row allocating and comparing 64
    * two-field rows) — so ties go to the earliest, i.e. lowest, cid. An
    * all-NaN row also lands there (Spark's NaN equals NaN). A NULL
    * vector, or one with a NULL element, makes every distance in the
    * row NULL and yields a NULL position. */
  private[operators] def nearest(what: String, books: Seq[Book]): Seq[Column] = {
    requireLiteralBound(what, books.map(_.size).foldLeft(0)(math.max),
      books.map(_.map(_._2.length).foldLeft(0)(math.max)).sum)
    books.zipWithIndex.map { case (book, s) =>
      val d2 = array(book.map { case (_, c) =>
        col(s"__vv_$s") - lit(2.0) * Similarity.dot(col(s"__sub_$s"), typedLit(c)) +
          lit(Similarity.dotSeq(c, c))
      }: _*)
      array_position(d2, array_min(d2))
    }
  }

  /** The cid at each [[nearest]] position, a NULL position placing the
    * row in the lowest cid. The position is coalesced BEFORE the lookup:
    * `element_at` over a literal array does not propagate a NULL index
    * (it answers the first element, or fails in generated code). */
  private def nearestCid(what: String, books: Seq[Book]): Seq[Column] =
    nearest(what, books).zip(books).map { case (pos, book) =>
      element_at(typedLit(book.map(_._1)), coalesce(pos, lit(1L)).cast("int"))
    }

  /** The k-row centroid table as driver state (bounded by construction
    * — the same legitimacy as collecting k-means centroids anywhere). */
  private def collectCentroids(centroids: DataFrame): Book =
    centroids.select(col("centroid_id"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  /** Partial-collect ceiling for [[meansByDim]]: past this many input
    * partitions the per-partition partials (≤ k·d each) would approach
    * driver scale, so the per-round mean falls back to the SQL
    * aggregate (one shuffle of ≤ k·d·parts partial rows — the r20
    * shape). Local and bench tiers sit far under it. */
  private[operators] val MaxPartialParts = 2048

  /** Per-(subspace, cell, dim) decimal-exact means of an assigned frame
    * (columns `cid_s` int and `__sub_s` array<double> for s < m) as
    * driver state: per subspace, the sorted (cid, per-dim means). The
    * double->decimal cast is the string route (shortest-string repr is
    * engine-identical; direct double->decimal rounding is not) and
    * stays a CODEGEN'D column expression; only the exact decimal
    * additions move: per-partition partial (sum, count) pairs ride one
    * collect and combine on the driver. Decimal addition is exact and
    * associative, so the totals — and the single sum.toDouble / count
    * division — are bit-identical to the SQL
    * `groupBy(sub, cid, dim).agg(sum(decimal).cast(double) / count(1))`
    * route regardless of partitioning (IvfIndexSpec and PqIndexSpec pin
    * the two paths equal). Counts mirror `count(lit(1))` under
    * posexplode exactly: every element position of a non-null vector
    * counts, null array rows contribute nothing. ONE job, ZERO
    * exchanges; past [[MaxPartialParts]] input partitions the SQL
    * route runs instead. */
  private[operators] def meansByDim(assigned: DataFrame, m: Int): IndexedSeq[Book] = {
    val decs = assigned.select(
      (0 until m).map(s => col(s"cid_$s")) ++
        (0 until m).map(s => transform(col(s"__sub_$s"),
          x => x.cast("string").cast("decimal(28,12)")).as(s"vd_$s")): _*)
    val rdd = decs.rdd
    val entries: Array[(Int, Int, Int, String, Long)] =
      if (rdd.getNumPartitions > MaxPartialParts)
        decs
          .select(explode(array((0 until m).map(s =>
            struct(lit(s).as("sub"), col(s"cid_$s").as("cid"),
              col(s"vd_$s").as("sv"))): _*)).as("e"))
          .select(col("e.sub").as("sub"), col("e.cid").as("cid"),
            posexplode(col("e.sv")).as(Seq("dim", "x")))
          .groupBy("sub", "cid", "dim")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
            if (r.isNullAt(3)) null else r.getDecimal(3).toString,
            r.getLong(4)))
      else
        rdd.mapPartitions { it =>
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[(Int, Int, Int), (java.math.BigDecimal, Long)]
          it.foreach { r =>
            var s = 0
            while (s < m) {
              if (!r.isNullAt(m + s)) {
                val cid = r.getInt(s)
                val vd = r.getSeq[java.math.BigDecimal](m + s)
                var d = 0
                while (d < vd.length) {
                  val (s0, n0) = acc.getOrElse((s, cid, d),
                    (null: java.math.BigDecimal, 0L))
                  val x = vd(d)
                  val sum0 =
                    if (x == null) s0 else if (s0 == null) x else s0.add(x)
                  acc((s, cid, d)) = (sum0, n0 + 1L)
                  d += 1
                }
              }
              s += 1
            }
          }
          // sums ride as strings: BigDecimal.toString round-trips
          // exactly by contract, and strings dodge serializer drift
          acc.iterator.map { case ((s, cid, d), (sm, n)) =>
            (s, cid, d, if (sm == null) null else sm.toString, n) }
        }.collect()
    val total = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Int, Int), (java.math.BigDecimal, Long)]
    entries.foreach { case (s, cid, d, sStr, n) =>
      val x = if (sStr == null) null else new java.math.BigDecimal(sStr)
      val (s0, n0) = total.getOrElse((s, cid, d), (null: java.math.BigDecimal, 0L))
      val comb = if (x == null) s0 else if (s0 == null) x else s0.add(x)
      total((s, cid, d)) = (comb, n0 + n)
    }
    (0 until m).map(s =>
      total.iterator.filter(_._1._1 == s).toSeq.groupBy(_._1._2).iterator
        .map { case (cid, es) =>
          (cid, es.sortBy(_._1._3).map { case ((_, _, d), (sm, n)) =>
            if (sm == null) throw new IllegalStateException(
              s"meansByDim: all-null sum for sub $s cell $cid dim $d (corrupt vectors)")
            sm.doubleValue / n // == sum(decimal).cast(double) / count(1)
          }.toSeq)
        }.toSeq.sortBy(_._1))
  }

  /** THE Lloyd loop: `iters` deterministic k-means rounds on each of the
    * `m` subspaces of `vecCol`, trained FUSED (the subspace problems are
    * independent). Init = the first k vectors by id, numbered 0..k-1 —
    * dense by vid order, not vid.cast(int): 64-bit (e.g. hash-derived)
    * vids would wrap modulo 2^32 and two colliding initial vectors would
    * silently merge clusters. A cell that loses every vector in a round
    * drops out of the means (GROUP BY semantics — identical in the SQL
    * oracle); the survivors keep their ids. Rows whose distances are
    * NULL join the lowest cid.
    *
    * ONE job and ZERO exchanges per round (r21; guide §2.4): the input
    * is floored ([[adaptiveFloor]]) and cached once, the init rows come
    * from that cache (its first job), and each round is the kernel plus
    * the cast in flat codegen'd columns — no generator near the argmin,
    * so nothing re-evaluates it per dimension — feeding
    * [[meansByDim]]'s partial collect. The r20 shape paid a shuffle +
    * an AQE stage barrier per round for the same ≤ k·d numbers
    * (measured ~0.33 s/round warm at sf0.1 vs ~0.1 s fused). */
  private[operators] def lloyd(what: String, df: DataFrame, idCol: String,
                               vecCol: String, m: Int, k: Int,
                               iters: Int): IndexedSeq[Book] =
    graft.PersistScope.within {
      val vecs = graft.PersistScope.cache(adaptiveFloor(
        df.select(col(idCol).as("vid"), vecD(col(vecCol)).as("v"))))
      // the k init rows are numbered DRIVER-side (take(k) of a
      // TakeOrdered is bounded by contract) — an unpartitioned
      // row_number window here would be equivalent but spams
      // `WindowExec: No Partition Defined` into every ANN bench run
      val init = vecs.orderBy("vid").limit(k).select(col("v")).collect()
        .map(_.getSeq[Double](0))
      require(init.nonEmpty, s"$what: empty input")
      val dim = init.head.length
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val sub = dim / m
      var books: IndexedSeq[Book] = (0 until m).map(s =>
        init.indices.map(cid => (cid, init(cid).slice(s * sub, (s + 1) * sub))))
      for (_ <- 0 until iters) {
        val cids = nearestCid(what, books)
        books = meansByDim(
          withSubspaces(vecs, Nil, slices(col("v"), m, sub))
            .select(cids.zipWithIndex.map { case (c, s) => c.as(s"cid_$s") } ++
              (0 until m).map(s => col(s"__sub_$s")): _*),
          m)
      }
      books
    }

  /** Train k centroids with `iters` Lloyd rounds ([[lloyd]] on one
    * subspace). Returns (centroid_id, centroid: array<double>) — a
    * LocalRelation, so downstream probes/assignments pay no recompute. */
  def train(df: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    lloyd("IvfIndex.train", df, idCol, vecCol, m = 1, k, iters).head
      .toDF("centroid_id", "c")
  }

  /** Assign every row of `df` to its trained cell (the persisted
    * layout's partition key at scale): columns (vid, centroid_id, v),
    * one output row PER INPUT ROW — a duplicated vid stays duplicated
    * (a streamed index can legitimately carry one; [[searchIndexed]]'s
    * rerank takes each vid's best cosine, so duplicates never crowd
    * the top-k). Zero shuffles: the centroids ride as literals. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame = {
    val cid = nearestCid("IvfIndex.assign", Seq(collectCentroids(centroids))).head
    withSubspaces(df.select(col(idCol).as("vid"), vecD(col(vecCol)).as("v")),
        Seq(col("vid"), col("v")), Seq(col("v")))
      .select(col("vid"), cid.as("centroid_id"), col("v"))
  }

  /** The `nProbes` cell ids nearest `q` — a driver-side argmin over the
    * k-row centroid table (same legitimacy as the centroid collect in
    * training). Sequential left-fold dot products (== DuckDB
    * list_inner_product), so the probe ranking is oracle-reproducible:
    * d2 = cc - 2*cq + qq, ties to the lower cid. */
  private[operators] def probeCells(cents: Book, q: Array[Double],
                                    nProbes: Int): Seq[Int] = {
    val qq = Similarity.dotSeq(q, q)
    cents.map { case (id, c) =>
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
    val probes = probeCells(collectCentroids(centroids), q, nProbes)
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
    val probes = probeCells(collectCentroids(centroids), q, nProbes)
    rerank(indexed.where(col("centroid_id").isin(probes.map(p => p: Any): _*)),
      idCol, q, topK, excludeId)
  }
}
