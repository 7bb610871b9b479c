package graft.text

import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, CollectionGenerator, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ReadOnlyArrayData

/** Aho–Corasick multi-pattern literal matching (Aho & Corasick 1975,
  * "Efficient String Matching: An Aid to Bibliographic Search", CACM)
  * — the blocklist/filter-list primitive of an LLM data pipeline:
  * scan each document ONCE against a dictionary of thousands of
  * literal patterns, emitting every occurrence (overlapping included,
  * via dictionary suffix links). A per-pattern `contains`/`instr` loop
  * is O(|text|·|patterns|); the automaton is O(|text| + matches)
  * regardless of dictionary size — at 100 TB the dictionary rides the
  * closure (one compiled automaton per executor, cached by pattern-set
  * key), and matching stays inside the map stage's WholeStageCodegen.
  *
  * Matching is over code points (like [[RollingHash]]) so engine
  * positions and the oracle's `substr` positions agree; emitted rows
  * are (pid = 0-based index into the pattern list, pos = 1-based
  * code-point start).
  */
final class ACAutomaton(patterns: Array[Array[Int]]) extends Serializable {
  // trie with per-node sorted child arrays (binary search on goto)
  private val childKeys = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Int])
  private val childVals = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Int])
  // pattern id ending exactly at this node (-1 none); patterns are
  // distinct by construction (builder rejects duplicates)
  private val hit = mutable.ArrayBuffer(-1)

  private def childOf(n: Int, c: Int): Int = {
    val ks = childKeys(n)
    var lo = 0; var hi = ks.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val k = ks(mid)
      if (k == c) return childVals(n)(mid)
      else if (k < c) lo = mid + 1 else hi = mid - 1
    }
    -1
  }

  private def addChild(n: Int, c: Int): Int = {
    val id = childKeys.length
    childKeys += mutable.ArrayBuffer.empty[Int]
    childVals += mutable.ArrayBuffer.empty[Int]
    hit += -1
    val ks = childKeys(n); val vs = childVals(n)
    var i = ks.length
    ks += 0; vs += 0
    while (i > 0 && ks(i - 1) > c) { ks(i) = ks(i - 1); vs(i) = vs(i - 1); i -= 1 }
    ks(i) = c; vs(i) = id
    id
  }

  patterns.zipWithIndex.foreach { case (p, pid) =>
    var n = 0
    p.foreach { c =>
      val ch = childOf(n, c)
      n = if (ch >= 0) ch else addChild(n, c)
    }
    require(hit(n) < 0, s"duplicate pattern at index $pid")
    hit(n) = pid
  }

  private val size = childKeys.length
  private val fail = new Array[Int](size)
  // dictionary suffix link: nearest proper-suffix node that ends a
  // pattern (0 = none; node 0 never ends a pattern)
  private val dict = new Array[Int](size)
  val patternLengths: Array[Int] = patterns.map(_.length)

  locally {
    val queue = mutable.Queue.empty[Int]
    childVals(0).foreach { v => fail(v) = 0; queue += v }
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      dict(n) = if (hit(fail(n)) >= 0) fail(n) else dict(fail(n))
      val ks = childKeys(n)
      var i = 0
      while (i < ks.length) {
        val c = ks(i); val v = childVals(n)(i)
        var f = fail(n)
        var g = childOf(f, c)
        while (f != 0 && g < 0) { f = fail(f); g = childOf(f, c) }
        fail(v) = if (g >= 0 && g != v) g else 0
        queue += v
        i += 1
      }
    }
  }

  /** All matches in `cp`: parallel arrays (pid, 1-based start pos). */
  def matchAll(cp: Array[Int]): (Array[Int], Array[Int]) = {
    val pids = mutable.ArrayBuffer.empty[Int]
    val poss = mutable.ArrayBuffer.empty[Int]
    var n = 0
    var i = 0
    while (i < cp.length) {
      val c = cp(i)
      var g = childOf(n, c)
      while (n != 0 && g < 0) { n = fail(n); g = childOf(n, c) }
      n = if (g >= 0) g else 0
      // report the node's own pattern plus every dictionary suffix
      var m = if (hit(n) >= 0) n else dict(n)
      while (m != 0) {
        val pid = hit(m)
        pids += pid
        poss += i + 2 - patternLengths(pid) // end index i (0-based) → 1-based start
        m = dict(m)
      }
      i += 1
    }
    (pids.toArray, poss.toArray)
  }
}

object AhoCorasick {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, ACAutomaton]()

  /** '|' is the spec delimiter with NO escape mechanism: a pattern that
    * itself contains '|' cannot be represented — it would silently split
    * into two wrong patterns. Spec builders must join '|'-free patterns
    * (the empty-pattern require below is what such a split usually trips,
    * and its message documents the limitation for SQL callers of
    * `ac_matches`/`wordpiece_pieces`).
    */
  def automaton(patsSpec: String): ACAutomaton =
    cache.computeIfAbsent(patsSpec, spec => {
      val pats = spec.split('|').map(_.codePoints().toArray)
      require(
        pats.nonEmpty && pats.forall(_.nonEmpty),
        "empty pattern in ac_matches spec ('|' delimits patterns and has no " +
          "escape — a pattern containing '|' cannot be represented)")
      new ACAutomaton(pats)
    })

  /** Builder-side guard for the unescapable delimiter above. */
  def joinSpec(patterns: Seq[String]): String = {
    require(
      patterns.nonEmpty && patterns.forall(p => p.nonEmpty && !p.contains("|")),
      "ac_matches patterns must be non-empty and '|'-free (the spec " +
        "delimiter has no escape mechanism)")
    patterns.mkString("|")
  }

  /** Static entry both paths call: rows (pid, pos). A null text or
    * spec yields zero rows here rather than relying on the caller's
    * null branch — a generator is never nullable, so its generated
    * call is not null-guarded.
    */
  def matchRows(text: UTF8String, patsSpec: UTF8String): ACMatchRows = {
    if (text == null || patsSpec == null) return new ACMatchRows(Array.emptyIntArray, Array.emptyIntArray)
    val (pids, poss) = automaton(patsSpec.toString)
      .matchAll(text.toString.codePoints().toArray)
    new ACMatchRows(pids, poss)
  }
}

/** Eager (pid, pos) rows; same read-only contract as
  * [[RollingHashRows]].
  */
final class ACMatchRows(val pids: Array[Int], val poss: Array[Int]) extends ReadOnlyArrayData {
  override def numElements(): Int = pids.length
  override def getStruct(i: Int, numFields: Int): InternalRow =
    new GenericInternalRow(Array[Any](pids(i), poss(i)))
  override def get(ordinal: Int, dataType: DataType): AnyRef = getStruct(ordinal, 2)
  override def array: Array[Any] = Array.tabulate[Any](pids.length)(getStruct(_, 2))
}

/** Generator `ac_matches(text, 'p1|p2|…')` → rows (pid INT, pos INT).
  * The pattern spec must be foldable (a literal) — the automaton is
  * compiled once per executor and cached by spec.
  */
case class AhoCorasickGenerator(left: Expression, right: Expression)
    extends BinaryExpression with CollectionGenerator {

  override def position: Boolean = false
  override def inline: Boolean = true
  override def elementSchema: StructType =
    new StructType()
      .add("pid", IntegerType, nullable = false)
      .add("pos", IntegerType, nullable = false)
  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: org.apache.spark.sql.types.StringType,
            _: org.apache.spark.sql.types.StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "ac_matches needs (string column, foldable string pattern spec)")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    AhoCorasick.matchRows(left.eval(input).asInstanceOf[UTF8String], right.eval(input).asInstanceOf[UTF8String])
      .structRows(2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) => s"graft.text.AhoCorasick.matchRows($t, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AhoCorasickGenerator =
    copy(left = newLeft, right = newRight)
}
