package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Immutable `UTF8String -> long` hash table: open addressing with
  * linear probing over a power-of-two slot array at most half full, keyed
  * by `UTF8String.hashCode` (murmur3 of the UTF-8 bytes), so a probe
  * hashes the row's bytes in place — no `String` decode, no boxing.
  * Built once on the driver; equality is by content, so two expressions
  * over equal embedded tables are semantically equal (subexpression
  * elimination shares them). */
final class ModelTable private (keys: Array[UTF8String], vals: Array[Long],
                                val size: Int) extends Serializable {
  private val mask = keys.length - 1

  /** Slot of `k`, or -1 when the key is absent. */
  def slot(k: UTF8String): Int = {
    var i = k.hashCode & mask
    while (keys(i) != null) {
      if (keys(i) == k) return i
      i = (i + 1) & mask
    }
    -1
  }

  def valueAt(slot: Int): Long = vals(slot)

  override def equals(o: Any): Boolean = o match {
    case t: ModelTable => t.size == size &&
      java.util.Arrays.equals(t.keysArr.asInstanceOf[Array[AnyRef]],
        keys.asInstanceOf[Array[AnyRef]]) &&
      java.util.Arrays.equals(t.valsArr, vals)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(keys.asInstanceOf[Array[AnyRef]])
  private def keysArr: Array[UTF8String] = keys
  private def valsArr: Array[Long] = vals
}

object ModelTable {
  /** Table of `entries`; a repeated key keeps its last value. */
  def apply(entries: Iterable[(String, Long)]): ModelTable = {
    val n = entries.size
    val cap = Integer.highestOneBit(math.max(2, n * 2 - 1)) << 1
    val keys = new Array[UTF8String](cap)
    val vals = new Array[Long](cap)
    var size = 0
    entries.foreach { case (s, v) =>
      val k = UTF8String.fromString(s)
      var i = k.hashCode & (cap - 1)
      while (keys(i) != null && keys(i) != k) i = (i + 1) & (cap - 1)
      if (keys(i) == null) size += 1
      keys(i) = k
      vals(i) = v
    }
    new ModelTable(keys, vals, size)
  }

  /** Membership table: every key maps to 1. */
  def ones(keys: Iterable[String]): ModelTable = apply(keys.map(_ -> 1L))
}

/** Where a [[ModelApply]] expression finds its table. `name` is what the
  * plan prints in place of the table, so a plan's text does not grow
  * with the model. */
sealed trait ModelSource extends Serializable {
  def name: String
  def table: ModelTable
  override def toString: String = name
}

/** A broadcast table: executors fetch it once per executor, the plan
  * carries only the handle — the form for trained models. */
final case class BroadcastModel(name: String, bc: Broadcast[ModelTable])
    extends ModelSource {
  // resolved once per deserialized copy (one per task), not per row
  @transient private lazy val resolved = bc.value
  def table: ModelTable = resolved
}

/** A table carried inside the expression — the form for small fixed
  * vocabularies in column functions that have no session to broadcast
  * with (stopword lists). */
final case class EmbeddedModel(name: String, table: ModelTable) extends ModelSource

/** Apply a trained `string -> long` model to a row with one native
  * expression — the operator-fusion shape (*ML Inference Pipeline
  * Execution Using Pure SQL Based on Operator Fusion*, ICDE 2025): the
  * model is a hash table probed inside the scan's generated code, not a
  * map literal scanned by interpreted `transform`/`element_at` per
  * element, and not a join. Forms:
  *
  *  - `SumOver` (`array<string> -> long`): sum of the values of the
  *    elements; unseen and null elements add 0;
  *  - `CountIn` (`array<string> -> long`): the number of elements present
  *    in the table (every value counted as 1); null elements do not count;
  *  - `Lookup` (`string -> long`): the value, NULL for an unseen key;
  *  - `MapOver(default)` (`array<string> -> array<long>`): each element's
  *    value, `default` for unseen and null elements.
  *
  * A NULL input gives NULL in every form. Sums are sequential Java `long`
  * additions in element order. */
case class ModelApply(child: Expression, model: ModelSource, form: ModelApply.Form)
    extends UnaryExpression {
  import ModelApply._

  override def checkInputDataTypes(): TypeCheckResult = (form, child.dataType) match {
    case (Lookup, StringType) => TypeCheckResult.TypeCheckSuccess
    case (Lookup, t) => TypeCheckResult.TypeCheckFailure(
      s"graft_model_lookup requires string, got ${t.catalogString}")
    case (_, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (f, t) => TypeCheckResult.TypeCheckFailure(
      s"graft_model_${f.name} requires array<string>, got ${t.catalogString}")
  }

  override def dataType: DataType = form match {
    case MapOver(_) => ArrayType(LongType, containsNull = false)
    case _ => LongType
  }

  override def nullable: Boolean = form == Lookup || child.nullable

  override def prettyName: String = s"graft_model_${form.name}"
  override def toString: String = s"$prettyName($child, $model)"
  override def sql: String = s"$prettyName(${child.sql}, $model)"

  override def nullSafeEval(input: Any): Any = {
    val t = model.table
    form match {
      case Lookup =>
        val s = t.slot(input.asInstanceOf[UTF8String])
        if (s < 0) null else t.valueAt(s)
      case _ =>
        val arr = input.asInstanceOf[ArrayData]
        val n = arr.numElements()
        form match {
          case MapOver(default) =>
            val out = new Array[Long](n)
            var i = 0
            while (i < n) {
              val s = if (arr.isNullAt(i)) -1 else t.slot(arr.getUTF8String(i))
              out(i) = if (s < 0) default else t.valueAt(s)
              i += 1
            }
            UnsafeArrayData.fromPrimitiveArray(out)
          case _ =>
            var acc = 0L
            var i = 0
            while (i < n) {
              if (!arr.isNullAt(i)) {
                val s = t.slot(arr.getUTF8String(i))
                if (s >= 0) acc += (if (form == CountIn) 1L else t.valueAt(s))
              }
              i += 1
            }
            acc
        }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("model", model, classOf[ModelSource].getName)
    val tbl = ctx.freshName("table")
    val s = ctx.freshName("slot")
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val load = s"${classOf[ModelTable].getName} $tbl = $ref.table();"
    // the slot of element i, -1 for an unseen or null element
    def slotOf(a: String) =
      s"int $s = $a.isNullAt($i) ? -1 : $tbl.slot($a.getUTF8String($i));"
    nullSafeCodeGen(ctx, ev, in => form match {
      case Lookup =>
        s"""
           |$load
           |int $s = $tbl.slot($in);
           |if ($s < 0) { ${ev.isNull} = true; } else { ${ev.value} = $tbl.valueAt($s); }
         """.stripMargin
      case MapOver(default) =>
        val out = ctx.freshName("out")
        s"""
           |$load
           |int $n = $in.numElements();
           |long[] $out = new long[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  ${slotOf(in)}
           |  $out[$i] = $s < 0 ? ${default}L : $tbl.valueAt($s);
           |}
           |${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($out);
         """.stripMargin
      case _ =>
        val acc = ctx.freshName("acc")
        val add = if (form == CountIn) "1L" else s"$tbl.valueAt($s)"
        s"""
           |$load
           |long $acc = 0L;
           |int $n = $in.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  ${slotOf(in)}
           |  if ($s >= 0) $acc += $add;
           |}
           |${ev.value} = $acc;
         """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ModelApply =
    copy(child = newChild)
}

object ModelApply {
  sealed abstract class Form(val name: String) extends Serializable
  case object SumOver extends Form("sum_over")
  case object CountIn extends Form("count_in")
  case object Lookup extends Form("lookup")
  final case class MapOver(default: Long) extends Form("map_over")

  /** Broadcast `table` once from the driver under the plan name `name`. */
  def broadcast(spark: SparkSession, name: String, table: ModelTable): ModelSource =
    BroadcastModel(name, spark.sparkContext.broadcast(table))

  def sumOver(arr: Column, m: ModelSource): Column = apply(arr, m, SumOver)
  def countIn(arr: Column, m: ModelSource): Column = apply(arr, m, CountIn)
  def lookup(key: Column, m: ModelSource): Column = apply(key, m, Lookup)
  def mapOver(arr: Column, m: ModelSource, default: Long): Column =
    apply(arr, m, MapOver(default))

  /** Token-id encode: `toks` mapped through `vocab` (broadcast once),
    * `unkId` for tokens outside it; `array<int>` like the vocab's ids. */
  def vocabIds(spark: SparkSession, name: String, vocab: Map[String, Int],
               toks: Column, unkId: Int): Column =
    mapOver(toks, broadcast(spark, name, ModelTable(vocab.map { case (t, id) =>
      t -> id.toLong })), unkId.toLong).cast("array<int>")

  private def apply(c: Column, m: ModelSource, f: Form): Column =
    GraftShims.column(ModelApply(GraftShims.expression(c), m, f))
}
