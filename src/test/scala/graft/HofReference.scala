package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpreted higher-order-function (and built-in-only) formulations of
  * the native codegen expressions in `graft.plans`: the executable
  * specifications the DuckDB oracles mirror, and the baselines the
  * native expressions are pinned bit-identical against. Only specs call
  * them; the engine runs the native forms.
  *
  * A HOF root is CodegenFallback, interpreted per row, and copies its
  * argument expression into every use site: pass plain column references
  * (a pre-materialized token or hash array), never an inlined tokenizer
  * or md5 tree.
  */
object HofReference {

  /** [[graft.functions.Text.tokens]]: whitespace tokens with empties
    * dropped (DuckDB `list_filter(string_split(t,' '), x -> x <> '')`). */
  def tokensHof(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** [[graft.functions.Text.md5Long]] from built-ins (hex string ->
    * substr -> conv), the cross-engine specification. */
  def md5LongHof(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /** [[graft.functions.Text.winnowOf]]: O(n*w) with a slice allocation
    * per window (the native deque is O(n)). */
  def winnowOfHof(hs: Column, w: Int): Column = {
    val cnt = size(hs) - (w - 1)
    // NULL input -> NULL (missing document), not [] (too short to
    // fingerprint) — the shinglesOfHof discipline; oracle mirrors
    when(hs.isNull, lit(null).cast("array<bigint>"))
      .when(cnt >= 1,
      array_sort(array_distinct(
        transform(sequence(lit(1), cnt), i => array_min(slice(hs, i, lit(w)))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** [[graft.operators.Dedup.shinglesOf]] (the oracle's list_transform
    * over range). Guarded: Spark's `sequence(1, 0)` would count DOWN, so
    * short docs get []. */
  def shinglesOfHof(toks: Column, n: Int): Column = {
    val cnt = size(toks) - (n - 1)
    // NULL input -> NULL, matching the native expression's null-intolerant
    // eval exactly (size(NULL) is NULL, so the bare when/otherwise would
    // silently turn NULL into [] and the two forms would diverge on the
    // one input class the equivalence spec's =!= filter cannot see)
    when(toks.isNull, lit(null).cast("array<string>"))
      .when(cnt >= 1,
        array_distinct(
          transform(
            sequence(lit(1), cnt),
            i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** [[graft.operators.Dedup.simhashOfHashes]]: a ±1 vector per token,
    * `zip_with` sums, a power-weighted fold. */
  def simhashOfHashesHof(hs: Column): Column = {
    val bits = graft.operators.Dedup.SimhashBits
    val bitVecs = transform(hs, h =>
      array((0 until bits).map(b =>
        when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)): _*))
    val sums = aggregate(
      bitVecs,
      array((0 until bits).map(_ => lit(0)): _*),
      (acc, v) => zip_with(acc, v, (x, y) => x + y))
    val powers = array((0 until bits).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(sums, powers, (s, p) => when(s > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** [[graft.operators.Dedup.minhashSignatures]] as the relational plan
    * the per-row [[graft.plans.MinhashSig]] kernel replaced: one row per
    * distinct token by `explode`, then `k` `min` aggregates in a
    * `groupBy(doc)`. Output `(doc, mh0 .. mh{k-1})`; a document without
    * tokens has no row. */
  def minhashSignaturesRef(df: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame =
    minhashOfHashRows(df
      .select(col(idCol).as("doc"),
        explode(array_distinct(graft.functions.Text.tokens(col(textCol)))).as("tok"))
      .select(col("doc"), graft.functions.Text.md5Long(col("tok")).as("h")), k)

  /** The same plan over a `(doc, hs: array<bigint>)` frame of token
    * hashes. NULL elements are dropped before the aggregate, so a
    * document with no non-null hash has no row (the kernel's NULL). */
  def minhashOfHashesRef(df: DataFrame, hsCol: String, k: Int): DataFrame =
    minhashOfHashRows(df.select(col("doc"), explode(col(hsCol)).as("h")), k)

  private def minhashOfHashRows(rows: DataFrame, k: Int): DataFrame = {
    val p = graft.operators.Dedup.MinhashMod
    val mins = (0 until k).map { i =>
      val (a, b) = graft.operators.Dedup.minhashPerm(i)
      min(pmod(col("hv") * a + b, lit(p))).as(s"mh$i")
    }
    rows.where(col("h").isNotNull)
      .select(col("doc"), pmod(col("h"), lit(p)).as("hv"))
      .groupBy("doc").agg(mins.head, mins.tail: _*)
  }

  /** [[graft.operators.Similarity.dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  // optional exponent: PostGIS/Shapely emit 1.5e-3 for near-zero coords,
  // and without it the scanner would match "-3 2" INSIDE the exponent —
  // fabricating a garbage vertex instead of parsing or failing cleanly
  private val Num = "-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?"
  private val NumPair = s"($Num) ($Num)"

  /** [[graft.functions.Geo.stGeomFromText]] as regex + HOF. */
  def stGeomFromTextHof(wkt: Column): Column = {
    val pairs = regexp_extract_all(wkt, lit(NumPair), lit(0))
    transform(pairs, p => struct(
      split(p, " ").getItem(0).cast("double").as("x"),
      split(p, " ").getItem(1).cast("double").as("y")))
  }

  /** [[graft.functions.Geo.stCentroid]]. The n = 0 case is explicit
    * (NaN, NaN): under ANSI mode a bare sx/n would THROW DIVIDE_BY_ZERO
    * on an unparseable-WKT row and kill the whole job — degenerate input
    * must stay a per-row value, and NaN is exactly what the non-ANSI
    * fold always produced. */
  def stCentroidHof(geom: Column): Column = {
    val n = size(geom)
    val sx = aggregate(geom, lit(0.0), (acc, p) => acc + p.getField("x"))
    val sy = aggregate(geom, lit(0.0), (acc, p) => acc + p.getField("y"))
    val nan = lit(Double.NaN)
    struct(
      when(n === 0, nan).otherwise(sx / n).as("x"),
      when(n === 0, nan).otherwise(sy / n).as("y"))
  }

  /** [[graft.functions.Geo.stArea]]; same sequential fold order. */
  def stAreaHof(geom: Column): Column = {
    val n = size(geom)
    val crosses = transform(geom, (p, i) => {
      val q = element_at(geom, (pmod(i + 1, n) + 1).cast("int"))
      p("x") * q("y") - q("x") * p("y")
    })
    abs(aggregate(crosses, lit(0.0d), (acc, v) => acc + v)) / 2
  }

  /** [[graft.functions.Geo.stLength]]. */
  def stLengthHof(geom: Column): Column = {
    val n = size(geom)
    // greatest(..., 0): an empty geometry (unparseable WKT) would pass
    // slice a length of -1, which throws and kills the job on one row
    val segs = transform(slice(geom, lit(1), greatest(n - 1, lit(0))), (p, i) => {
      val q = element_at(geom, i + 2)
      sqrt((q("x") - p("x")) * (q("x") - p("x")) +
        (q("y") - p("y")) * (q("y") - p("y")))
    })
    aggregate(segs, lit(0.0d), (acc, v) => acc + v)
  }
}
