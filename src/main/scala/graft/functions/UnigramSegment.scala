package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Viterbi segmentation of one word under a piece-score map —
  * the [[graft.text.Unigram]] EM hot loop (DP + backpointer walk) as one
  * tight primitive pass per row (the [[LcsLen]]/[[DotFeatsW]]
  * discipline).
  *
  * Replaces the two chained `aggregate()` higher-order folds the unigram
  * learner ran per word per EM round: HOF lambdas evaluate through the
  * interpreter per element, and each fold step rebuilt its accumulator
  * arrays with `concat(acc.best, array(…))` — O(|w|²) array copies per
  * word on top of the interpretation overhead, re-paid in EVERY round
  * and again in the final tokenize pass.
  *
  * Inputs: the word `w` and the word's candidate map `m` keyed
  * `pos * 8 + len` (pos 1-based, len 1..maxPiece ≤ 7) with fixed-point
  * log-prob values — exactly what [[graft.text.Unigram]]'s per-round
  * score join produces. Output: the chosen pieces END TO START (the
  * backwalk's emission order, which downstream explode/size consumers
  * never depend on but the differential spec pins anyway).
  *
  * Semantics are the folds', bit for bit, including the null edges:
  *  - best[j] maximizes Σ scores over segmentations of the first j
  *    chars; candidates p = 1..maxPiece are evaluated ASCENDING with
  *    strict `>`, so ties go to the SHORTEST piece;
  *  - a candidate missing from the map is skipped (the fold's
  *    `try_element_at` null);
  *  - if the p = 1 candidate is missing, the running best for that
  *    position is NULL and — per SQL three-valued logic, where
  *    `v > NULL` is never true — no longer-piece candidate can replace
  *    it: the backpointer stays 1. (Unreachable from the learner, whose
  *    vocabulary always contains every single char, but direct SQL
  *    callers get the fold's exact behavior.)
  *  - the backwalk steps `j -= bp[j]` from |w| to 0 emitting
  *    `substring(w, j - bp[j] + 1, bp[j])`.
  *
  * One deliberate divergence OUTSIDE the reachable domain: on an EMPTY
  * word the old fold's `sequence(1, length(w))` ran BACKWARD ([1, 0])
  * and threw on `element_at(…, 0)` under ANSI; this expression returns
  * an empty array. Word streams are `w <> ''`-filtered at the source,
  * so no caller can observe the difference.
  */
case class UnigramSegment(left: Expression, right: Expression, maxPiece: Int)
    extends BinaryExpression {

  require(maxPiece >= 1 && maxPiece <= 7,
    s"unigram_segment: maxPiece must be in [1, 7] (keys are pos * 8 + len), got $maxPiece")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, MapType(IntegerType, LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"unigram_segment needs (string, map<int,bigint>), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_segment"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    UnigramSegment.run(l.asInstanceOf[UTF8String], r.asInstanceOf[MapData], maxPiece)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, m) => {
      s"""
         |${ev.value} = graft.functions.UnigramSegment.run($w, $m, $maxPiece);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramSegment =
    copy(left = newLeft, right = newRight)
}

object UnigramSegment {

  /** The Viterbi DP and backwalk of `unigram_segment(w, m, maxPiece)`,
    * shared by its interpreted and generated paths.
    */
  def run(w: UTF8String, m: MapData, maxPiece: Int): ArrayData = {
    val L = w.numChars()
    val cap = 8 * L + 8
    val score = new Array[Long](cap)
    val present = new Array[Boolean](cap)
    val keys = m.keyArray()
    val vals = m.valueArray()
    var i = 0
    val mn = m.numElements()
    while (i < mn) {
      val k = keys.getInt(i)
      // out-of-range keys are never probed by the DP (skip), and a null
      // value is indistinguishable from a missing key (try_element_at)
      if (k >= 0 && k < cap && !vals.isNullAt(i)) {
        present(k) = true; score(k) = vals.getLong(i)
      }
      i += 1
    }
    val best = new Array[Long](L + 1)
    val valid = new Array[Boolean](L + 1)
    val bp = new Array[Int](L + 1)
    valid(0) = true
    var j = 1
    while (j <= L) {
      val k1 = j * 8 + 1
      val cv = present(k1) && valid(j - 1)
      var cb = if (cv) best(j - 1) + score(k1) else 0L
      var cp = 1
      var p = 2
      while (p <= maxPiece && p <= j) {
        val kp = (j - p + 1) * 8 + p
        if (cv && present(kp) && valid(j - p)) {
          val v = best(j - p) + score(kp)
          if (v > cb) { cb = v; cp = p }
        }
        p += 1
      }
      best(j) = cb; valid(j) = cv; bp(j) = cp
      j += 1
    }
    val ps = new Array[AnyRef](L)
    var np = 0
    var jj = L
    while (jj > 0) {
      val st = bp(jj)
      ps(np) = w.substringSQL(jj - st + 1, st)
      np += 1
      jj -= st
    }
    new GenericArrayData(java.util.Arrays.copyOf(ps, np))
  }
}
