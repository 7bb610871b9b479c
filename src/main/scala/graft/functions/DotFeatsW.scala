package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd sparse dot product of a (bucket, count) feature array with
  * a dense weight vector: Σ_f w[f.b] · f.c over an
  * `array<struct<b:bigint,c:bigint>>` against an `array<bigint>`.
  *
  * Replaces the margin fold in the perceptron hot path
  * (`aggregate(feats, 0L, (acc, f) -> acc + element_at(w, f.b + 1) * f.c)`):
  * higher-order-function lambdas evaluate through the interpreter per
  * element, and the learner re-runs that fold over every document's
  * feature array in EVERY round. Here the loop is one static kernel,
  * `DotFeatsW.run`, that both the interpreted path and the generated
  * code inside WholeStageCodegen call (the [[DotI64]] discipline).
  *
  * Semantics match the HOF exactly on the learner's domain: `f.b` is a
  * 0-based bucket (the fold's 1-based `element_at(w, f.b + 1)` reads
  * the same slot this expression's 0-based `w[f.b]` does), buckets are
  * always in range (featurized hashes into [0, Buckets] and w has
  * Buckets+1 slots), and elements carry no nulls by construction. An
  * out-of-range bucket THROWS, exactly like the fold's ANSI
  * `element_at` did — a bucket outside the weight vector means the
  * featurizer and the model disagree, and a silent null would make
  * `margin <= 0` quietly misclassify the row instead of failing loud
  * (differential property in PerceptronSpec).
  *
  * One deliberate divergence OUTSIDE that domain: for a negative
  * bucket (`b <= -2`) ANSI `element_at(w, b + 1)` indexes from the
  * END of the array and silently returns a weight, while this
  * expression throws for ANY `b < 0`. Unreachable while the featurizer
  * hashes into [0, Buckets], but the "≡ the HOF fold" claim holds only
  * on that domain — a future featurizer change must not assume literal
  * equivalence for negative buckets.
  */
case class DotFeatsW(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StructType(Array(b, c)), _), ArrayType(LongType, _))
          if b.dataType == LongType && c.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_feats_w needs (array<struct<bigint,bigint>>, array<bigint>), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_feats_w"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    DotFeatsW.run(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (fs, w) => s"graft.functions.DotFeatsW.run($fs, $w)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotFeatsW =
    copy(left = newLeft, right = newRight)
}

object DotFeatsW {

  /** Σ w[f.b] · f.c over the (bucket, count) structs of `fs`. */
  def run(fs: ArrayData, w: ArrayData): Long = {
    val n = fs.numElements()
    val wn = w.numElements()
    var i = 0
    var s = 0L
    while (i < n) {
      val f = fs.getStruct(i, 2)
      val b = f.getLong(0)
      if (b < 0 || b >= wn)
        throw new ArrayIndexOutOfBoundsException(
          s"dot_feats_w: bucket $b out of range for $wn weights")
      s += w.getLong(b.toInt) * f.getLong(1)
      i += 1
    }
    s
  }
}
