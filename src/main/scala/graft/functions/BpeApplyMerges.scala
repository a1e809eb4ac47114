package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE merge application: the whole ordered merge batch applied
  * to one symbol array in a compiled loop — semantically identical to
  * folding [[graft.text.Bpe.mergeOnce]] once per merge (greedy
  * left-to-right, non-overlapping, in rank order), which BpeSpec pins.
  *
  * Why it exists (r18): the trainers applied a batch as a chain of up
  * to 48 NESTED `aggregate(...)` higher-order functions — and
  * [[graft.text.Bpe.encodeWords]] a chain of one per vocabulary merge
  * (106 on the bench corpus). Each round/plan re-ran Catalyst analysis
  * over that whole interpreted-HOF tree: a per-stage probe of
  * q_bpe_train_batched read 11.0 s wall against 1.5 s of total
  * executor run time — the merge loop was driver-PLANNING-bound, not
  * compute-bound. This expression is one plan node regardless of batch
  * size, with the per-merge passes as tight UTF8String loops inside
  * whole-stage codegen.
  *
  * Parity notes, element for element with the fold:
  *  - string equality is byte equality (UTF8String.equals — what
  *    `===` compiles to on strings);
  *  - a null ELEMENT never equals a merge's left or right symbol and
  *    passes through untouched (in the fold, `x === lit(r)` and the
  *    `element_at(acc, -1) === lit(l)` probe both go null, taking the
  *    append branch);
  *  - a merged symbol can never re-merge within its own pass (l+r is
  *    strictly longer than l, so it never equals l — same argument as
  *    the scalar trainer's);
  *  - a null ARRAY is null (UnaryExpression null propagation;
  *    `aggregate` over a null array is null).
  */
case class BpeApplyMerges(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_apply requires array<string> symbols, got $t")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_bpe_apply"

  @transient private lazy val packed: BpeApplyMerges.Packed =
    BpeApplyMerges.pack(merges)

  override protected def nullSafeEval(syms: Any): Any =
    BpeApplyMerges.applyAll(syms.asInstanceOf[ArrayData], packed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val packedRef = ctx.addReferenceObj("bpeMerges", packed,
      classOf[BpeApplyMerges.Packed].getName)
    nullSafeCodeGen(ctx, ev, syms => {
      s"${ev.value} = graft.functions.BpeApplyMerges.applyAll($syms, $packedRef);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyMerges =
    copy(child = newChild)
}

object BpeApplyMerges {

  /** The batch as UTF8String triples (left, right, concatenation),
    * rank order preserved.
    */
  case class Packed(l: Array[UTF8String], r: Array[UTF8String],
      lr: Array[UTF8String]) extends Serializable

  def pack(merges: Seq[(String, String)]): Packed = Packed(
    merges.map(m => UTF8String.fromString(m._1)).toArray,
    merges.map(m => UTF8String.fromString(m._2)).toArray,
    merges.map(m => UTF8String.fromString(m._1 + m._2)).toArray)

  def applyAll(syms: ArrayData, p: Packed): ArrayData = {
    val n = syms.numElements()
    var cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      cur(i) = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      i += 1
    }
    var m = 0
    while (m < p.l.length) {
      val l = p.l(m)
      val r = p.r(m)
      var len = cur.length
      // greedy left-to-right non-overlapping single-merge pass,
      // in place (the write index never overtakes the read index)
      var o = 0
      i = 0
      while (i < len) {
        val a = cur(i)
        if (i < len - 1 && a != null && a.equals(l) &&
            cur(i + 1) != null && cur(i + 1).equals(r)) {
          cur(o) = p.lr(m)
          i += 2
        } else {
          cur(o) = a
          i += 1
        }
        o += 1
      }
      if (o < len) cur = java.util.Arrays.copyOf(cur, o)
      m += 1
    }
    new GenericArrayData(cur.asInstanceOf[Array[Any]])
  }

  /** DataFrame-API entry point over an `array<string>` column. */
  def ofColumn(syms: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeApplyMerges(ColumnBridge.expression(syms), merges))
}
