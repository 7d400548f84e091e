package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.GraftShims

/** A document's whole MinHash signature as one per-row operator: `k`
  * running minima over its array of token hashes, in one primitive loop
  * inside whole-stage codegen.
  *
  * The relational form it replaces exploded one row per distinct token
  * and shuffled every token row to a `groupBy(doc)` of `k` `min`
  * aggregates. Here the signature is computed where the document
  * already is, so no token row is ever materialized or shuffled (the
  * operator fusion of *ML Inference Pipeline Execution Using Pure SQL
  * Based on Operator Fusion*, ICDE 2025). `min` is idempotent, so the
  * array need not be distinct first.
  *
  * Arithmetic contract (the `Dedup.minhashSignatures` scheme, which the
  * DuckDB oracle mirrors): with `P` = `Dedup.MinhashMod` and
  * `(a_i, b_i)` = `Dedup.minhashPerm(i)`, element `i` of the result is
  * the minimum of `pmod(pmod(h, P) * a_i + b_i, P)` over the non-null
  * `h`. NULL elements are skipped, as `min` skips them. The result is
  * NULL for a NULL array and for an array with no non-null element
  * (the relational form emits no row for such a document).
  * MinhashSigSpec pins both evaluation paths against the relational
  * form kept in `graft.HofReference`.
  */
case class MinhashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"MinhashSig needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig requires array<bigint>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val perms: (Array[Long], Array[Long]) = MinhashSig.perms(k)

  override def nullSafeEval(input: Any): Any =
    MinhashSig.sig(input.asInstanceOf[ArrayData], perms._1, perms._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("minhashA", perms._1, "long[]")
    val b = ctx.addReferenceObj("minhashB", perms._2, "long[]")
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.plans.MinhashSig.sig($in, $a, $b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  private val P = graft.operators.Dedup.MinhashMod

  /** The `k` permutation coefficients as two primitive arrays. */
  private def perms(k: Int): (Array[Long], Array[Long]) = {
    val ps = Array.tabulate(k)(graft.operators.Dedup.minhashPerm)
    (ps.map(_._1), ps.map(_._2))
  }

  /** The signature kernel — called from both eval and generated code.
    * `pmod(h, P) < P` and every `a_i` is far below `Long.MaxValue / P`,
    * so the products cannot overflow and the outer `%` is a `pmod`. */
  def sig(arr: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        seen = true
        val x = java.lang.Math.floorMod(arr.getLong(j), P)
        var i = 0
        while (i < k) {
          val v = (x * a(i) + b(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }

  def minhashSig(hashes: Column, k: Int): Column =
    GraftShims.column(MinhashSig(GraftShims.expression(hashes), k))
}
