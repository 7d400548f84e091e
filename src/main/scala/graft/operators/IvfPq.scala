package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-PQ — the composite ANN index (coarse inverted-file cells +
  * product-quantized RESIDUALS, the FAISS `IVFx,PQy` layout): each vector
  * is assigned to its nearest coarse cell, the residual `v − c_cell` is
  * PQ-encoded, and a query scans only its probed cells using a PER-CELL
  * ADC table built from the QUERY's residual in that cell. At 100 TB the
  * encoded table is (cell id + m code bytes) per vector, partitioned by
  * cell — a query touches nProbes/nCells of the data and never the raw
  * vectors. [[buildIndex]] persists exactly that layout; [[searchEncoded]]
  * reads it back with partition pruning.
  *
  * Deterministic end to end: coarse cells = the first `nCells` vectors
  * by id (the same init [[IvfIndex.train]] starts from; trained cells
  * splice in identically), PQ books = the first `k` residuals by id,
  * every distance the `vv − 2·dot + cc` left-fold identity — the whole
  * composite carries a cell-exact DuckDB oracle.
  */
object IvfPq {

  /** The trained pieces a query needs without touching the corpus:
    * the coarse-cell relation, its driver-side copy (for probe ranking
    * and per-cell query residuals), and the residual PQ books. */
  final case class Model(cents: DataFrame,
                         centArr: Map[Int, Array[Double]],
                         books: Array[Array[Array[Double]]])

  /** Residual relation: (vid, centroid_id, r = v − c(assigned cell)). */
  private def residuals(df: DataFrame, idCol: String, vecCol: String,
                        cents: DataFrame): DataFrame =
    IvfIndex.assign(df, idCol, vecCol, cents)
      .join(broadcast(cents), "centroid_id")
      .select(col("vid"), col("centroid_id"),
        zip_with(col("v"), col("c"), (a, b) => a - b).as("r"))

  /** Train the composite model: coarse cells (iters=0 k-means init ==
    * first nCells vectors by id) + PQ books from the first k residuals by
    * id. Two bounded driver collects (nCells + k rows), same legitimacy
    * as IVF's centroid table. */
  def buildModel(df: DataFrame, idCol: String, vecCol: String,
                 nCells: Int, m: Int, k: Int, dim: Int): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val cents = IvfIndex.train(df, idCol, vecCol, nCells, iters = 0)
    val centArr: Map[Int, Array[Double]] = cents.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val bookRows = residuals(df, idCol, vecCol, cents)
      .orderBy("vid").limit(k).collect()
    require(bookRows.length == k, s"need $k residuals, got ${bookRows.length}")
    val books = Array.tabulate(m, k) { (s, cid) =>
      bookRows(cid).getSeq[Double](2).slice(s * sub, (s + 1) * sub).toArray
    }
    Model(cents, centArr, books)
  }

  /** Encode every vector against the model: (vid, centroid_id,
    * code_0..m-1) plus the residual carried as `v` (dropped by
    * [[buildIndex]]'s projection). */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             model: Model): DataFrame =
    PqIndex.encode(residuals(df, idCol, vecCol, model.cents), "vid", "r",
      model.books, keepCols = Seq("centroid_id"))

  /** Materialize the index: (vid + m code columns) PARTITIONED BY the
    * coarse cell — the FAISS IVFPQ on-disk shape. A probe-N query reads
    * exactly N cell directories (partition pruning) and only the narrow
    * integer code columns; raw vectors never leave ingest. Encode cost is
    * paid once (EventStream.annIngestBatch appends the same shape). */
  def buildIndex(df: DataFrame, idCol: String, vecCol: String,
                 model: Model, path: String): Unit =
    graft.sinks.ParquetSink.writePartitioned(
      encode(df, idCol, vecCol, model)
        .select(col("vid") +:
          model.books.indices.map(s => col(s"code_$s")) :+
          col("centroid_id"): _*),
      path, Seq("centroid_id"))

  /** ADC top-k over an already-encoded relation (vid, centroid_id,
    * code_0..m-1 — [[buildIndex]]'s persisted layout or [[encode]]'s
    * output directly). The `centroid_id.isin(probes)` filter is a
    * PARTITION filter on the persisted layout; probes rank like
    * [[IvfIndex.search]]'s, and each probed cell's ADC sum is
    * [[PqIndex.adcSum]] over the table of the QUERY's residual in that
    * cell. Returns (idCol, cell, adc_d2). */
  def searchEncoded(encoded: DataFrame, idCol: String, model: Model,
                    queryVec: Array[Float], topK: Int, nProbes: Int,
                    excludeId: Option[Long]): DataFrame = {
    val q = queryVec.map(_.toDouble)
    val probes = IvfIndex.probeCells(
      model.centArr.toSeq.map { case (cid, c) => (cid, c.toSeq) }, q, nProbes)
    // per-cell ADC sums from the QUERY's residual in that cell
    def cellApprox(cell: Int): Column = PqIndex.adcSum(PqIndex.adcTable(
      q.zip(model.centArr(cell)).map { case (a, b) => a - b }, model.books))
    val approx = probes.tail.foldLeft(
        when(col("centroid_id") === probes.head, cellApprox(probes.head))) {
      case (acc, cell) => acc.when(col("centroid_id") === cell, cellApprox(cell))
    }
    val base = encoded.where(col("centroid_id").isin(probes.map(p => p: Any): _*))
    excludeId.map(e => base.where(col("vid") =!= e)).getOrElse(base)
      .select(col("vid").as(idCol), col("centroid_id").as("cell"),
        approx.as("adc_d2"))
      .orderBy(col("adc_d2"), col(idCol))
      .limit(topK)
  }

  /** ADC top-k over the RAW vector table: model + encode + probe in one
    * call. Correct anywhere, but re-encodes per query — at scale use
    * [[buildIndex]] + [[searchEncoded]]. Returns (idCol, cell, adc_d2). */
  def searchAdc(df: DataFrame, idCol: String, vecCol: String,
                nCells: Int, m: Int, k: Int, queryVec: Array[Float],
                topK: Int, nProbes: Int, excludeId: Option[Long]): DataFrame = {
    val model = buildModel(df, idCol, vecCol, nCells, m, k, queryVec.length)
    searchEncoded(encode(df, idCol, vecCol, model), idCol, model,
      queryVec, topK, nProbes, excludeId)
  }
}
