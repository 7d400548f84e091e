package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftShims
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd geometry primitives over the `array<struct<x,y>>`
  * point model (`graft.functions.Geo`).
  *
  * Exist for the same reason as [[NGrams]]/[[WsTokens]]: the HOF
  * formulations (regexp_extract_all + transform(split, struct) for the
  * WKT parse; aggregate/transform folds for centroid, shoelace area and
  * path length) are CodegenFallback at the root of the geo map stages —
  * the whole projection runs interpreted per row, with a regex engine
  * plus two splits per vertex. Each expression here is one tight loop;
  * the HOF forms live on the test side as executable specs
  * (mirrored by the DuckDB oracle) and GeoPointsSpec pins equality on
  * adversarial inputs, so the two formulations cannot drift.
  */
object GeoPoints {
  val PointType: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = true),
    StructField("y", DoubleType, nullable = true)))
  val PointsType: ArrayType = ArrayType(PointType, containsNull = false)

  def wktPoints(wkt: Column): Column =
    GraftShims.column(WktPoints(GraftShims.expression(wkt)))
  def centroid(geom: Column): Column =
    GraftShims.column(PointsCentroid(GraftShims.expression(geom)))
  def area(geom: Column): Column =
    GraftShims.column(PointsArea(GraftShims.expression(geom)))
  def pathLength(geom: Column): Column =
    GraftShims.column(PointsLength(GraftShims.expression(geom)))

  // ---------------------------------------------------------- WKT parse

  /** Exact reimplementation of
    * `regexp_extract_all(wkt, "(num) (num)")` + split + cast-to-double,
    * where num = `-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?`: scan
    * left-to-right, at each position attempt a greedy pair match, emit
    * on success and continue from the match end (Pattern.find
    * semantics). Backtracking inside a failed pair can never rescue it
    * — any shortened first number ends on a number-component character
    * (digit, '.', 'e', sign), never the required ' ' — so the greedy
    * single-pass attempt IS the regex result. Doubles parse with
    * Double.parseDouble, the same path Spark's string->double cast
    * takes for plain numerics. */
  def parseWkt(s: UTF8String): GenericArrayData = {
    val b = s.toString
    val n = b.length
    val out = new java.util.ArrayList[Any](4)
    var i = 0
    while (i < n) {
      val m = tryPair(b, i)
      if (m == null) i += 1
      else {
        out.add(new GenericInternalRow(Array[Any](m(0), m(1))))
        i = m(2).asInstanceOf[Double].toInt
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Greedy `num` end position from `i`, or -1 (no backtracking: see
    * [[parseWkt]] — a shortened match can never satisfy the separator). */
  private def numEnd(b: String, i0: Int): Int = {
    var i = i0
    val n = b.length
    if (i < n && b.charAt(i) == '-') i += 1
    val d0 = i
    while (i < n && b.charAt(i) >= '0' && b.charAt(i) <= '9') i += 1
    if (i == d0) return -1 // need >= 1 integer digit
    if (i < n && b.charAt(i) == '.') {
      val f0 = i + 1
      var j = f0
      while (j < n && b.charAt(j) >= '0' && b.charAt(j) <= '9') j += 1
      if (j > f0) i = j // fraction only with >= 1 digit
    }
    if (i < n && (b.charAt(i) == 'e' || b.charAt(i) == 'E')) {
      var j = i + 1
      if (j < n && (b.charAt(j) == '+' || b.charAt(j) == '-')) j += 1
      val e0 = j
      while (j < n && b.charAt(j) >= '0' && b.charAt(j) <= '9') j += 1
      if (j > e0) i = j // exponent only with >= 1 digit
    }
    i
  }

  /** (x, y, matchEnd) or null. */
  private def tryPair(b: String, i: Int): Array[Any] = {
    val e1 = numEnd(b, i)
    if (e1 < 0 || e1 >= b.length || b.charAt(e1) != ' ') return null
    val s2 = e1 + 1
    val e2 = numEnd(b, s2)
    if (e2 < 0) return null
    Array[Any](
      java.lang.Double.parseDouble(b.substring(i, e1)),
      java.lang.Double.parseDouble(b.substring(s2, e2)),
      e2.toDouble)
  }

  // --------------------------------------------------- fold primitives

  /** Sequential left-fold centroid, matching
    * `aggregate(geom, 0.0, (acc, p) -> acc + p.x) / size` exactly
    * (double addition is order-sensitive; same order, same bits).
    * Empty -> 0.0/0 = NaN like the HOF; null element -> null fields. */
  def evalCentroid(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var sx = 0.0d
    var sy = 0.0d
    var anyNull = false
    var i = 0
    while (i < n && !anyNull) {
      if (arr.isNullAt(i)) anyNull = true
      else {
        val p = arr.getStruct(i, 2)
        if (p.isNullAt(0) || p.isNullAt(1)) anyNull = true
        else { sx += p.getDouble(0); sy += p.getDouble(1) }
      }
      i += 1
    }
    if (anyNull) new GenericInternalRow(Array[Any](null, null))
    else new GenericInternalRow(Array[Any](sx / n, sy / n))
  }

  /** Shoelace |sum(x_i*y_{i+1} - x_{i+1}*y_i)| / 2 with wraparound,
    * sequential like the HOF fold. null element / null field -> null. */
  def evalArea(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i) || arr.isNullAt((i + 1) % n)) return null
      val p = arr.getStruct(i, 2)
      val q = arr.getStruct((i + 1) % n, 2)
      if (p.isNullAt(0) || p.isNullAt(1) || q.isNullAt(0) || q.isNullAt(1))
        return null
      acc += p.getDouble(0) * q.getDouble(1) - q.getDouble(0) * p.getDouble(1)
      i += 1
    }
    java.lang.Math.abs(acc) / 2
  }

  /** Open-path length: sum of sqrt(dx^2 + dy^2) over the n-1 segments,
    * sequential like the HOF fold. null element / null field -> null. */
  def evalLength(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    var acc = 0.0d
    var i = 0
    while (i + 1 < n) {
      if (arr.isNullAt(i) || arr.isNullAt(i + 1)) return null
      val p = arr.getStruct(i, 2)
      val q = arr.getStruct(i + 1, 2)
      if (p.isNullAt(0) || p.isNullAt(1) || q.isNullAt(0) || q.isNullAt(1))
        return null
      val dx = q.getDouble(0) - p.getDouble(0)
      val dy = q.getDouble(1) - p.getDouble(1)
      acc += java.lang.Math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    acc
  }
}

case class WktPoints(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_wkt_points requires string, got ${t.catalogString}")
  }
  override def dataType: DataType = GeoPoints.PointsType
  override def nullSafeEval(input: Any): Any =
    GeoPoints.parseWkt(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.GeoPoints.parseWkt($s);")
  override protected def withNewChildInternal(newChild: Expression): WktPoints =
    copy(child = newChild)
}

sealed trait PointsArrayInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
      if st.length == 2 && st.forall(_.dataType == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<x:double,y:double>>, " +
        s"got ${t.catalogString}")
  }
}

case class PointsCentroid(child: Expression) extends PointsArrayInput {
  override def dataType: DataType = GeoPoints.PointType
  override def nullSafeEval(input: Any): Any =
    GeoPoints.evalCentroid(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.GeoPoints.evalCentroid($a);")
  override protected def withNewChildInternal(newChild: Expression): PointsCentroid =
    copy(child = newChild)
}

case class PointsArea(child: Expression) extends PointsArrayInput {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    GeoPoints.evalArea(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""
        |java.lang.Double $r = graft.plans.GeoPoints.evalArea($a);
        |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): PointsArea =
    copy(child = newChild)
}

case class PointsLength(child: Expression) extends PointsArrayInput {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    GeoPoints.evalLength(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""
        |java.lang.Double $r = graft.plans.GeoPoints.evalLength($a);
        |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): PointsLength =
    copy(child = newChild)
}
