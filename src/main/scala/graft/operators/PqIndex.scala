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
  * The codebook is either deterministic ([[codebooks]]: sub-vectors of
  * the first `k` ids — no RNG, reproducible across runs and engines) or
  * trained ([[trainBooks]]: the same Lloyd loop as [[IvfIndex.train]],
  * run on every subspace). Encoding is [[IvfIndex.nearest]], the one
  * nearest-centroid kernel IVF assignment uses. All distance math is
  * `vv - 2·dot + cc` with the native left-fold
  * [[graft.plans.DotProduct]], so every double matches DuckDB's
  * `list_inner_product` bit-for-bit and the whole operator carries a
  * full oracle.
  */
object PqIndex {

  /** Deterministic per-subspace codebooks: `books(s)(cid)` = subspace-`s`
    * slice of the vector with the `cid`-th smallest id. One bounded
    * driver collect of k rows (like IVF's centroid table). */
  def codebooks(df: DataFrame, idCol: String, vecCol: String,
                m: Int, k: Int): Array[Array[Array[Double]]] = {
    val rows = df.select(col(idCol).as("vid"), IvfIndex.vecD(col(vecCol)).as("v"))
      .orderBy("vid").limit(k).collect()
    require(rows.length == k, s"need $k codebook vectors, got ${rows.length}")
    val dim = rows.head.getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m, k) { (s, cid) =>
      rows(cid).getSeq[Double](1).slice(s * sub, (s + 1) * sub).toArray
    }
  }

  /** TRAINED per-subspace codebooks: `iters` rounds of [[IvfIndex.lloyd]],
    * the Lloyd loop [[IvfIndex.train]] runs on one subspace, here on all
    * `m` at once (init = the [[codebooks]] sub-vectors, so by k-means'
    * monotone-SSE property the trained books never quantize worse than
    * the untrained ones). One round is ONE job: the m per-subspace
    * argmins of [[encode]]'s kernel, then per-(sub, cid, dim)
    * decimal-exact means collected to the driver as the next round's
    * literals. Clusters that empty out drop from their book — ids stay
    * STABLE across rounds (a surviving cluster keeps its cid even when a
    * lower one empties); only the returned arrays are positional. */
  def trainBooks(df: DataFrame, idCol: String, vecCol: String,
                 m: Int, k: Int, iters: Int): Array[Array[Array[Double]]] =
    IvfIndex.lloyd("PqIndex.trainBooks", df, idCol, vecCol, m, k, iters)
      .map(_.map(_._2.toArray).toArray).toArray

  /** Encode every vector to m code columns (`code_0..code_{m-1}`, each the
    * nearest centroid of its subspace, ties to the lower cid; NULL for a
    * subspace holding a NULL element). Shuffle-free: the codes are
    * [[IvfIndex.nearest]] over the k distances per subspace inside
    * whole-stage codegen (SURVEY §6). */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             books: Array[Array[Array[Double]]],
             keepCols: Seq[String] = Nil): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    val keep = Seq(col("vid"), col("v")) ++ keepCols.map(col)
    // codes are positional in `books` (cid == index); a NULL position
    // stays a NULL code
    val codes = IvfIndex.nearest("PqIndex.encode",
        books.toSeq.map(b => b.indices.map(cid => (cid, b(cid).toSeq))))
      .map(pos => (pos - 1).cast("int"))
    IvfIndex.withSubspaces(df,
        Seq(col(idCol).as("vid"), IvfIndex.vecD(col(vecCol)).as("v")) ++
          keepCols.map(col),
        IvfIndex.slices(IvfIndex.vecD(col(vecCol)), m, sub))
      .select(keep ++ codes.zipWithIndex.map { case (c, s) => c.as(s"code_$s") }: _*)
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

  /** The ADC table of query `q`: `table(s)(cid)` = qq − 2·qc + cc over
    * the subspace-`s` slices, with the driver-side left-fold dots, so
    * the literals match DuckDB's list_inner_product bit-for-bit. */
  private[operators] def adcTable(q: Array[Double],
                                  books: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val sub = books(0)(0).length
    Array.tabulate(books.length) { s =>
      val qs = q.slice(s * sub, (s + 1) * sub).toSeq
      val qq = Similarity.dotSeq(qs, qs)
      books(s).map(c =>
        qq - 2.0 * Similarity.dotSeq(qs, c.toSeq) + Similarity.dotSeq(c.toSeq, c.toSeq))
    }
  }

  /** A code row's approximate distance under an [[adcTable]]: the m
    * literal-array lookups of `code_0..code_{m-1}`, summed left to right
    * inside codegen. */
  private[operators] def adcSum(table: Array[Array[Double]]): Column =
    table.indices.map(s =>
        element_at(array(table(s).map(lit): _*), col(s"code_$s") + 1))
      .reduceLeft(_ + _)

  /** ADC top-k over an already-encoded codes relation (vid + code_0..m-1
    * — [[buildIndex]]'s layout, or [[encode]]'s output directly): the
    * approximate distance is [[adcSum]] over the query's [[adcTable]],
    * and the top-k is TakeOrderedAndProject. Raw vectors are never
    * touched. */
  def searchEncoded(encoded: DataFrame, idCol: String,
                    books: Array[Array[Array[Double]]], queryVec: Array[Float],
                    topK: Int, excludeId: Option[Long]): DataFrame = {
    val approx = adcSum(adcTable(queryVec.map(_.toDouble), books))
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
    val vecs = df.select(col(idCol), IvfIndex.vecD(col(vecCol)).as("__v"))
    adcTopK.join(vecs, idCol)
      .select(col(idCol), col("adc_d2"),
        (Similarity.dot(col("__v"), col("__v"))
          - lit(2.0) * Similarity.dot(col("__v"), qCol)
          + lit(qq)).as("exact_d2"))
  }
}
