package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The trained piece table a [[UnigramSegment]] carries: piece -> integer
  * cost (lower is better — a scaled negative log-probability, kept
  * INTEGER so the optimal segmentation is exactly reproducible across
  * engines and runs; float scores would make ties platform-dependent).
  * Single characters absent from the table fall back to `unkCost`, so
  * every input segments completely — the no-dead-end guarantee the DP
  * relies on. One instance rides the expression as a codegen reference
  * object; executors deserialize it once per task set, not per row. */
final class UnigramTable(pieceCosts: Seq[(String, Int)], val unkCost: Int)
    extends Serializable {
  require(pieceCosts.nonEmpty, "unigram: empty piece table")
  val maxLen: Int = pieceCosts.map(_._1.length).max
  private val costs = {
    val m = new java.util.HashMap[String, Integer](pieceCosts.size * 2)
    pieceCosts.foreach { case (p, c) =>
      require(p.nonEmpty, "unigram: empty piece")
      m.put(p, c)
    }
    m
  }
  def cost(piece: String): Integer = costs.get(piece)
  def size: Int = costs.size
  def pieces: Seq[(String, Int)] =
    { import scala.jdk.CollectionConverters._
      costs.asScala.toSeq.map { case (p, c) => (p, c.intValue) }.sortBy(_._1) }
}

/** Viterbi word segmentation against a trained unigram piece table — the
  * SentencePiece-unigram APPLY step (Kudo 2018), the per-word DP that
  * rounds out the tokenizer family next to greedy-merge BPE. A native
  * expression for the same reason as [[NGrams]]: the DP is per-row
  * imperative (O(len × maxPieceLen) with backtracking) — inexpressible
  * as builtins, and a UDF would break whole-stage codegen for the
  * stage; this stays inside the span via a static helper call.
  *
  * Deterministic total order: minimize total integer cost; on a cost
  * tie at any position, the SMALLEST split start wins (= the longest
  * final piece). Unknown single characters cost `unkCost`, so the DP
  * never dead-ends and concatenating the output pieces always
  * reconstructs the word exactly. */
case class UnigramSegment(child: Expression, table: UnigramTable)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_unigram_segment requires string, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    UnigramSegment.run(table, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramTable", table,
      classOf[UnigramTable].getName)
    nullSafeCodeGen(ctx, ev, in =>
      s"""
         |${ev.value} = graft.plans.UnigramSegment.run($ref, $in);
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegment =
    copy(child = newChild)
}

object UnigramSegment {

  /** The DP, shared verbatim by eval and codegen (a static call keeps
    * the stage inside whole-stage codegen). */
  def run(t: UnigramTable, word: UTF8String): ArrayData = {
    val s = word.toString
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    // DP over CODE POINTS, not Java chars: a char-indexed DP would split
    // astral characters (emoji) into lone surrogates, whose UTF-8
    // encoding is invalid — the output would no longer concatenate back
    // to the input. starts(i) = char offset of code point i.
    val n = s.codePointCount(0, s.length)
    val starts = new Array[Int](n + 1)
    var cp = 0; var off = 0
    while (cp < n) { starts(cp) = off; off = s.offsetByCodePoints(off, 1); cp += 1 }
    starts(n) = s.length
    // Long dp: a pathological unbroken megabyte "word" at max piece
    // cost would overflow Int (1e6 chars x ~4e4 cost)
    val INF = Long.MaxValue
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) { dp(i) = INF; i += 1 }
    i = 1
    while (i <= n) {
      // t.maxLen is in chars >= code points: a slightly wide window whose
      // extra candidates simply miss the table
      var j = math.max(0, i - t.maxLen)
      while (j < i) {
        if (dp(j) != INF) {
          val piece = s.substring(starts(j), starts(i))
          val c: Integer =
            if (i - j == 1) {
              val known = t.cost(piece)
              if (known != null) known else Integer.valueOf(t.unkCost)
            } else t.cost(piece)
          // strict <: ascending j keeps the FIRST (smallest) start on a
          // cost tie — the longest-final-piece rule, total-ordered
          if (c != null && dp(j) + c.intValue < dp(i)) {
            dp(i) = dp(j) + c.intValue
            back(i) = j
          }
        }
        j += 1
      }
      i += 1
    }
    // backtrack (dp(n) is finite: the single-code-point fallback always
    // applies)
    var cnt = 0
    var k = n
    while (k > 0) { cnt += 1; k = back(k) }
    val out = new Array[Any](cnt)
    k = n
    var idx = cnt - 1
    while (k > 0) {
      out(idx) = UTF8String.fromString(s.substring(starts(back(k)), starts(k)))
      idx -= 1
      k = back(k)
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point. */
  def segment(word: Column, table: UnigramTable): Column =
    GraftShims.column(UnigramSegment(GraftShims.expression(word), table))
}
