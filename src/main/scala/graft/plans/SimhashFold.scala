package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.GraftShims

/** SimHash bit-majority fold over an array of 60-bit token hashes — the
  * native twin of the interpreted HOF fold the specs keep as the
  * cross-check reference (the DotProduct discipline).
  *
  * The HOF formulation (`transform` to a ±1 vector per token, `aggregate`
  * of `zip_with` sums, a final power-weighted fold) is evaluated
  * interpreted, per element, with boxed arithmetic: ~`bits` allocations
  * and ~4·`bits` boxed ops per TOKEN — measured ~240 µs/doc at 60 bits on
  * the bench corpus, the entire cost of the q_simhash scan stage. This
  * expression computes the identical value with one primitive `int[bits]`
  * accumulator per row inside whole-stage codegen (guide §1.2 step 2 /
  * §4: make the per-task work native once the job shape is right).
  *
  * Arithmetic contract (mirrored by OracleSql's 60 bit terms, pinned
  * bit-identical against the HOF form in DedupSpec):
  *   - bit b of the result is 1 iff Σ_tokens (bit b of hash ? +1 : -1) > 0
  *   - a NULL hash element contributes -1 to EVERY bit (the HOF's
  *     `when(null === 1, 1).otherwise(-1)` takes the otherwise branch);
  *     real inputs never carry one (md5 of a non-null token), this just
  *     pins the degenerate case to the reference semantics
  *   - an empty array yields 0L; a NULL array yields NULL.
  */
case class SimhashFold(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 63, s"SimhashFold needs 1..63 bits, got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash_fold requires array<bigint>, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimhashFold.fold(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.plans.SimhashFold.fold($in, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimhashFold =
    copy(child = newChild)
}

object SimhashFold {
  /** Primitive majority fold — called from both eval and generated code. */
  def fold(arr: ArrayData, bits: Int): Long = {
    val counts = new Array[Int](bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        var b = 0
        while (b < bits) { counts(b) -= 1; b += 1 }
      } else {
        val h = arr.getLong(i)
        var b = 0
        while (b < bits) {
          counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (counts(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  def simhashFold(c: Column, bits: Int): Column =
    GraftShims.column(SimhashFold(GraftShims.expression(c), bits))
}
