package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd sequential BPE merge replay: apply merges (as[i], bs[i]),
  * i = 0..n−1 in order, each as one greedy-leftmost non-overlapping
  * pass over the symbol array — the [[graft.text.Bpe]] merge evolution
  * as primitive in-place passes (the [[LcsLen]]/[[UnigramSegment]]
  * discipline).
  *
  * Replaces chains of the `aggregate()` higher-order merge fold
  * (`applyMerge`, now `BpeSpec`'s differential reference): each fold
  * step rebuilt the accumulator with `concat(slice(acc, …), …)` —
  * O(|syms|²) array copies per merge per word, interpreted per
  * element, and the learner/from-saved/curve paths chain up to
  * numMerges folds per projection. Here each merge is
  * one in-place O(|syms|) pass (the write index trails the read index),
  * with a single output allocation per row.
  *
  * Pass semantics, bit-identical to the fold: scanning left to right,
  * fuse `x` into the previous OUTPUT symbol when that symbol equals `a`
  * and `x` equals `b` — so the accumulator ends with the MERGED symbol
  * (`aaa` under (a,a) → [aa, a]), and a just-merged symbol can itself
  * match `a` for the next element (the fold's exact behavior, since it
  * compares against `element_at(acc, -1)`). A null symbol never
  * matches and is appended as-is; a null a/b entry (unreachable — the
  * merge tables are driver strings) makes its pass a no-op, exactly as
  * the fold's null-literal comparisons would.
  *
  * `as` and `bs` must be equal-length (fail loud — a ragged merge
  * table means caller and model disagree).
  */
case class BpeMergeAll(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"bpe_merge_all needs three array<string>, got $other")
    }
  override def dataType: DataType =
    ArrayType(StringType, first.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "bpe_merge_all"

  override protected def nullSafeEval(s: Any, a: Any, b: Any): Any =
    BpeMergeAll.run(
      s.asInstanceOf[ArrayData], a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, a, b) => s"graft.functions.BpeMergeAll.run($s, $a, $b)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BpeMergeAll =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpeMergeAll {

  def run(syms: ArrayData, as: ArrayData, bs: ArrayData): ArrayData = {
    val nm = as.numElements()
    require(nm == bs.numElements(),
      s"bpe_merge_all: merge tables disagree (${nm} a's vs ${bs.numElements()} b's)")
    var n = syms.numElements()
    val cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      cur(i) = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      i += 1
    }
    var m = 0
    while (m < nm) {
      if (!as.isNullAt(m) && !bs.isNullAt(m)) {
        val a = as.getUTF8String(m)
        val b = bs.getUTF8String(m)
        val ab = UTF8String.concat(a, b)
        var w = 0
        var r = 0
        while (r < n) {
          val x = cur(r)
          if (w > 0 && cur(w - 1) != null && cur(w - 1).equals(a)
              && x != null && x.equals(b)) {
            cur(w - 1) = ab
          } else {
            cur(w) = x
            w += 1
          }
          r += 1
        }
        n = w
      }
      m += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(cur.asInstanceOf[Array[AnyRef]], n))
  }
}
