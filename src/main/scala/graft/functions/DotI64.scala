package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd exact BIGINT dot product over two array<bigint> columns.
  *
  * Replaces the `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, ...)`
  * higher-order-function chain in the vector hot paths (cosine scoring,
  * norms, hyperplane sign bits): HOF lambdas evaluate through the
  * interpreter per element and materialize the zipped intermediate
  * array. Here the loop is one static kernel, `DotI64.run`: the
  * interpreted path calls it, and so does the generated code inside
  * WholeStageCodegen, with no intermediate allocation.
  *
  * Precondition: non-null elements (quantized embeddings and plane
  * literals never carry nulls); length mismatch folds over the shorter
  * prefix.
  */
case class DotI64(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(s"dot_i64 needs two array<bigint>, got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i64"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DotI64.run(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotI64.run($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotI64 =
    copy(left = newLeft, right = newRight)
}

object DotI64 {

  /** The dot product over the shorter prefix of `a` and `b`. */
  def run(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var s = 0L
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }
}
