package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN: split each vector into `m` subspaces,
  * quantize every sub-vector to its nearest of `k` per-subspace codebook
  * centroids, and answer queries with asymmetric distance computation
  * (ADC) — the query meets only the m small code columns plus an m×k
  * lookup table, never the raw vectors. The third scale path for
  * similarity search next to LSH (Similarity.annLsh) and IVF (IvfIndex):
  * at 100 TB the encoded table is m bytes/vector instead of 4·dim, the
  * ADC scan is a narrow integer-column projection + literal-array
  * lookups, and the codes are computed once at ingest.
  *
  * The codebook here is deterministic (sub-vectors of the first `k` ids —
  * no RNG, reproducible across runs and engines); a trained variant
  * would run per-subspace Lloyd rounds exactly like [[IvfIndex.train]].
  * All distance math is `vv - 2·dot + cc` with the native left-fold
  * [[graft.plans.DotProduct]], so every double matches DuckDB's
  * `list_inner_product` bit-for-bit and the whole operator carries a
  * full oracle.
  */
object PqIndex {

  // transform(_.cast), NOT c.cast(array<double>), deliberately: a bare
  // Cast-of-attribute is "cheap" to CollapseProject, so the alias gets
  // INLINED and re-evaluated at every use site (measured +35% on
  // q_ann_ivf's equivalent); the HOF form is non-cheap and stays
  // materialized once. Elementwise float->double widening is exact
  // either way.
  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** Deterministic per-subspace codebooks: `books(s)(cid)` = subspace-`s`
    * slice of the vector with the `cid`-th smallest id. One bounded
    * driver collect of k rows (like IVF's centroid table). */
  def codebooks(df: DataFrame, idCol: String, vecCol: String,
                m: Int, k: Int): Array[Array[Array[Double]]] = {
    val rows = df.select(col(idCol).as("vid"), vecD(col(vecCol)).as("v"))
      .orderBy("vid").limit(k).collect()
    require(rows.length == k, s"need $k codebook vectors, got ${rows.length}")
    val dim = rows.head.getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m, k) { (s, cid) =>
      rows(cid).getSeq[Double](1).slice(s * sub, (s + 1) * sub).toArray
    }
  }

  /** TRAINED per-subspace codebooks: `iters` Lloyd rounds of
    * [[IvfIndex.train]]'s deterministic k-means on each subspace's slices
    * (init = the [[codebooks]] sub-vectors, so by k-means' monotone-SSE
    * property the trained books never quantize worse than the untrained
    * ones). The m per-subspace problems are independent, so they train
    * FUSED, and — like the r20 [[IvfIndex.train]] — the books are MODEL
    * STATE riding in the plan as literals: assignment is [[encode]]'s
    * own `least()` over (d2, cid) structs (the identical total order to
    * min_by over struct(dist2, cid)), so one Lloyd round is ONE job —
    * row-wise per-subspace argmins → explode (sub, cid, sub-vector) →
    * per-(sub, cid, dim) decimal-exact means → a ≤ m·k·dim-row collect
    * that becomes the next round's literals. No per-round broadcast
    * join, no per-(vid, sub) shuffle, no checkpoint; the per-(sub,
    * cluster) arithmetic is identical, so the books are bit-identical
    * and the oracle unchanged. Clusters that empty out drop from their
    * book — ids stay STABLE across rounds (a surviving cluster keeps
    * its cid even when a lower one empties); only the returned arrays
    * are positional. */
  def trainBooks(df: DataFrame, idCol: String, vecCol: String,
                 m: Int, k: Int, iters: Int): Array[Array[Array[Double]]] = {
    // init = first k vectors by id, collected once and sliced — the same
    // k rows every per-subspace train would take
    val initRows = df.select(col(idCol).as("vid"), vecD(col(vecCol)).as("v"))
      .orderBy("vid").limit(k).select("v").collect()
    require(initRows.nonEmpty, "trainBooks: empty input")
    val dim = initRows.head.getSeq[Double](0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    IvfIndex.requireLiteralBound("PqIndex.trainBooks", initRows.length, dim)
    val sub = dim / m
    // one cached row per vid, sub-vectors and self-dots materialized in
    // their own projections so the k distance terms share them (the
    // interpreted-HOF copy rule, as in [[encode]]); parallelism floor
    // before caching — `iters` map stages run over this cache
    // scale-adaptive floor ([[IvfIndex.adaptiveFloor]]): a bench-tier
    // input keeps its natural split count, a large one fans out
    val src = IvfIndex.adaptiveFloor(
      df.select(col(idCol).as("vid"), vecD(col(vecCol)).as("v0")))
    val vecs = src
      .select(col("vid") +: (0 until m).map(s =>
        slice(col("v0"), s * sub + 1, sub).as(s"__sub_$s")): _*)
      .select(col("*") +: (0 until m).map(s =>
        Similarity.dot(col(s"__sub_$s"), col(s"__sub_$s")).as(s"__vv_$s")): _*)
      .persist()
    // loop state: per sub, (cid, centroid) pairs — cids are NOT
    // positions while training (an emptied cluster must not renumber
    // its survivors mid-run)
    var books: IndexedSeq[Seq[(Int, Seq[Double])]] =
      (0 until m).map(s => initRows.zipWithIndex.map { case (r, cid) =>
        (cid, r.getSeq[Double](0).slice(s * sub, (s + 1) * sub))
      }.toSeq)
    def argmin(s: Int): Column =
      least(books(s).map { case (cid, c) =>
        val cc = Similarity.dotSeq(c, c)
        struct((col(s"__vv_$s") -
          lit(2.0) * Similarity.dot(col(s"__sub_$s"), typedLit(c)) +
          lit(cc)).as("d2"), lit(cid).as("cid"))
      }: _*).getField("cid")
    for (_ <- 0 until iters) {
      // ONE job and ZERO exchanges per round (r21, the IvfIndex.meansByDim
      // twin keyed by sub): per-subspace argmins and the string-routed
      // double->decimal casts stay CODEGEN'D flat columns (2m of them —
      // no generator anywhere near the argmin, so nothing re-evaluates
      // per dimension); the per-(sub, cid, dim) means are per-partition
      // partial decimal (sum, count) pairs combined on the driver —
      // decimal addition is exact and associative, so the books are
      // bit-identical to the r20 explode + groupBy(sub, cid, dim) route
      // (PqIndexSpec pins the two paths equal), which paid a shuffle +
      // an AQE barrier per round for the same ≤ k·dim numbers. Inputs
      // too wide to collect partials from fall back to that SQL route.
      val decs = vecs.select(
        (0 until m).map(s => argmin(s).as(s"cid_$s")) ++
          (0 until m).map(s => transform(col(s"__sub_$s"),
            x => x.cast("string").cast("decimal(28,12)")).as(s"vd_$s")): _*)
      val rdd = decs.rdd
      val entries: Array[(Int, Int, Int, String, Long)] =
        if (rdd.getNumPartitions > IvfIndex.MaxPartialParts)
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
            acc.iterator.map { case ((s, cid, d), (sm, n)) =>
              (s, cid, d, if (sm == null) null else sm.toString, n) }
          }.collect()
      val total = scala.collection.mutable.LinkedHashMap
        .empty[(Int, Int, Int), (java.math.BigDecimal, Long)]
      entries.foreach { case (s, cid, d, sStr, n) =>
        val x = if (sStr == null) null else new java.math.BigDecimal(sStr)
        val (s0, n0) = total.getOrElse((s, cid, d),
          (null: java.math.BigDecimal, 0L))
        val comb = if (x == null) s0 else if (s0 == null) x else s0.add(x)
        total((s, cid, d)) = (comb, n0 + n)
      }
      books = (0 until m).map(s =>
        total.iterator.filter(_._1._1 == s).toSeq.groupBy(_._1._2).iterator
          .map { case (cid, es) =>
            (cid, es.sortBy(_._1._3).map { case ((_, _, d), (sm, n)) =>
              if (sm == null) throw new IllegalStateException(
                s"trainBooks: all-null sum for sub $s cid $cid dim $d")
              sm.doubleValue / n
            }.toSeq)
          }.toSeq.sortBy(_._1))
    }
    vecs.unpersist()
    Array.tabulate(m)(s => books(s).map(_._2.toArray).toArray)
  }

  /** First index (1-based) of the minimum of `d2s`, as a primitive
    * double-array min + position — the argmin with ties to the LOWEST
    * index, i.e. exactly `least()` over struct(d2, idx) / `min_by` /
    * `ROW_NUMBER ORDER BY (d2, idx)` semantics, but with NO per-row
    * struct allocation or struct comparators: one UnsafeArrayData of k
    * doubles, two primitive scans, all inside whole-stage codegen
    * (profiled at sf1.5: the struct form spent ~170 µs/row allocating
    * and comparing 64 two-field rows). Spark's NaN semantics make the
    * degenerate all-NaN row well-defined too (NaN = NaN is true, so
    * position finds the first element). */
  private def argminIdx(d2s: Seq[Column]): Column = {
    val arr = array(d2s: _*)
    array_position(arr, array_min(arr))
  }

  /** Encode every vector to m code columns (`code_0..code_{m-1}`, each the
    * argmin centroid of its subspace, ties to the lower cid). Shuffle-free:
    * the codes are scalar expression chains — [[argminIdx]] over the k
    * distances per subspace — inside whole-stage codegen; the
    * sub-vector and its self-dot are materialized in their own
    * projections so the k distance terms share them (SURVEY §6). */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             books: Array[Array[Array[Double]]],
             keepCols: Seq[String] = Nil): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    IvfIndex.requireLiteralBound("PqIndex.encode", books.map(_.length).max, m * sub)
    val withSubs = df.select(
      Seq(col(idCol).as("vid"), vecD(col(vecCol)).as("v")) ++
        keepCols.map(col) ++
        (0 until m).map(s =>
          slice(vecD(col(vecCol)), s * sub + 1, sub).as(s"__sub_$s")): _*)
    val withVv = withSubs.select(
      col("*") +: (0 until m).map(s =>
        Similarity.dot(col(s"__sub_$s"), col(s"__sub_$s")).as(s"__vv_$s")): _*)
    val coded = withVv.select(
      (Seq(col("vid"), col("v")) ++ keepCols.map(col)) ++ (0 until m).map { s =>
        val d2s = books(s).map { c =>
          val cc = Similarity.dotSeq(c.toSeq, c.toSeq)
          col(s"__vv_$s") -
            lit(2.0) * Similarity.dot(col(s"__sub_$s"), typedLit(c.toSeq)) +
            lit(cc)
        }
        // codes are positional in `books` (cid == index)
        (argminIdx(d2s.toSeq) - 1).cast("int").as(s"code_$s")
      }: _*)
    coded
  }

  /** ADC top-k: per subspace, the k query-to-centroid distances are a
    * driver-computed literal array (same left-fold dots), the approximate
    * distance is m array lookups summed left-to-right, and the top-k is
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps). The
    * encoded relation never ships its raw vectors. */
  def searchAdc(df: DataFrame, idCol: String, vecCol: String,
                m: Int, k: Int, queryVec: Array[Float],
                topK: Int, excludeId: Option[Long]): DataFrame =
    searchAdcWith(df, idCol, vecCol, codebooks(df, idCol, vecCol, m, k),
      queryVec, topK, excludeId)

  /** [[searchAdc]] with caller-supplied books (e.g. [[trainBooks]]'
    * Lloyd-trained ones). */
  def searchAdcWith(df: DataFrame, idCol: String, vecCol: String,
                    books: Array[Array[Array[Double]]], queryVec: Array[Float],
                    topK: Int, excludeId: Option[Long]): DataFrame = {
    // scale-adaptive parallelism floor ([[IvfIndex.adaptiveFloor]]):
    // this is the per-query FULL-SCAN encode path, a pure map plan that
    // otherwise runs at the input's file-split width. The floor is
    // sized by input bytes, so a large single-file input still fans
    // out while a bench-tier one skips the exchange. A no-op at real
    // scale; the ingest-time path ([[buildIndex]] + [[searchEncoded]])
    // never rescans vectors at all.
    val src = IvfIndex.adaptiveFloor(df)
    searchEncoded(encode(src, idCol, vecCol, books), idCol, books,
      queryVec, topK, excludeId)
  }

  /** Materialize the index: encode every vector and persist ONLY the id
    * and the m code columns. This is the 100 TB layout — a query's ADC
    * scan reads m small dictionary-packed int columns instead of the
    * 4·dim float vectors, and the encode cost is paid once at ingest
    * (EventStream.annIngestBatch appends to the same shape), not per
    * query. */
  def buildIndex(df: DataFrame, idCol: String, vecCol: String,
                 books: Array[Array[Array[Double]]], path: String): Unit =
    // via ParquetSink like the sibling IvfIndex.buildIndex: one
    // full-refresh write path to carry any future policy (options,
    // compression, audit) instead of a drifting inline twin
    graft.sinks.ParquetSink.writeReplace(
      encode(df, idCol, vecCol, books)
        .select(col("vid") +: books.indices.map(s => col(s"code_$s")): _*),
      path)

  /** ADC top-k over an already-encoded codes relation (vid + code_0..m-1
    * — [[buildIndex]]'s layout, or [[encode]]'s output directly): the
    * per-subspace query-to-centroid distances are driver-computed literal
    * arrays, the approximate distance is m array lookups summed
    * left-to-right inside codegen, and the top-k is
    * TakeOrderedAndProject. Raw vectors are never touched. */
  def searchEncoded(encoded: DataFrame, idCol: String,
                    books: Array[Array[Array[Double]]], queryVec: Array[Float],
                    topK: Int, excludeId: Option[Long]): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    val q = queryVec.map(_.toDouble)
    val adc: Array[Array[Double]] = Array.tabulate(m) { s =>
      val qs = q.slice(s * sub, (s + 1) * sub).toSeq
      val qq = Similarity.dotSeq(qs, qs)
      books(s).map(c => qq - 2.0 * Similarity.dotSeq(qs, c.toSeq) + Similarity.dotSeq(c.toSeq, c.toSeq))
    }
    val approx = (0 until m).map(s =>
        element_at(array(adc(s).map(lit): _*), col(s"code_$s") + 1))
      .reduceLeft(_ + _)
    val base = excludeId.map(e => encoded.where(col("vid") =!= e)).getOrElse(encoded)
    base.select(col("vid").as(idCol), approx.as("adc_d2"))
      .orderBy(col("adc_d2"), col(idCol))
      .limit(topK)
  }

  /** The PQ accuracy audit (the ANN analogue of Dedup.verifyPairs'
    * estimate-vs-exact pass): each ADC candidate next to its EXACT
    * distance to the query, computed from the raw vectors with the same
    * vv − 2·dot + qq identity — quantifies what the quantization cost
    * before anyone ships the index. The candidate set is tiny (top-k),
    * so the exact join touches k rows, not the corpus. */
  def verifyExact(df: DataFrame, idCol: String, vecCol: String,
                  adcTopK: DataFrame, queryVec: Array[Float]): DataFrame = {
    val q = queryVec.map(_.toDouble)
    val qq = Similarity.dotSeq(q.toSeq, q.toSeq)
    val qCol = array(q.map(lit): _*)
    val vecs = df.select(col(idCol), vecD(col(vecCol)).as("__v"))
    adcTopK.join(vecs, idCol)
      .select(col(idCol), col("adc_d2"),
        (Similarity.dot(col("__v"), col("__v"))
          - lit(2.0) * Similarity.dot(col("__v"), qCol)
          + lit(qq)).as("exact_d2"))
  }
}
