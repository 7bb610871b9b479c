package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Codegen'd longest-common-SUBSEQUENCE length over two array<string>
  * token columns — the ROUGE-L core (Lin 2004). Third custom scalar
  * expression after [[DotI64]] and [[NfcNormalize]], same rationale: the
  * two-row DP is a tight primitive loop (O(n·m) int ops over two
  * reusable int rows), where any higher-order-function formulation
  * would interpret per element and allocate a fresh row array per
  * step. The loop is one static kernel, `LcsLen.run`, that both the
  * interpreted path and the generated code inside WholeStageCodegen
  * call.
  *
  * Subsequence, not substring — insertions/deletions/reorders reduce
  * the score gracefully, which is exactly what generation eval needs
  * (the substring analog lives in [[graft.dedup.Winnow]]'s extension
  * folds). Callers cap token counts (the gate slices to a fixed prefix)
  * so the quadratic cell count is a compile-time-bounded constant per
  * row, never corpus-dependent.
  *
  * Null elements never match (a null token contributes nothing to the
  * common subsequence — same treatment in both eval paths, so a direct
  * SQL caller with containsNull arrays gets a defined answer, not an
  * NPE); either side empty → 0.
  */
case class LcsLen(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(s"lcs_len needs two array<string>, got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "lcs_len"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    LcsLen.run(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.LcsLen.run($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LcsLen =
    copy(left = newLeft, right = newRight)
}

object LcsLen {

  /** The LCS length of `a` and `b` by the two-row DP: `prev` holds row
    * i − 1, `cur` row i, and the two swap after each row.
    */
  def run(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i < n) {
      val ai = a.getUTF8String(i)
      var j = 0
      while (j < m) {
        val bj = b.getUTF8String(j)
        cur(j + 1) =
          if (ai != null && bj != null && ai.equals(bj)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    prev(m).toLong
  }
}
