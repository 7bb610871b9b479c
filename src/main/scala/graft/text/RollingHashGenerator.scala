package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ReadOnlyArrayData

/** Portable rolling content hash over character k-windows, plus the
  * winnowing (MOSS) fingerprint selection on top of it.
  *
  * The hash is DELIBERATELY not md5/xxh64: it must be (a) O(1) per
  * window on the engine side — the md5 formulation pays O(k) digest
  * work per character position, which at k=40 made the exact-substring
  * family ~40× more CPU than the scan itself — and (b) replayable
  * bit-for-bit by a DuckDB oracle in plain SQL. A polynomial rolling
  * hash over code points satisfies both:
  *
  *   h1 = Σ c_i·131^(k-1-i) mod (2³¹−1),  h2 = same with base 137,
  *   h  = h1·2³¹ + h2   (62-bit combined key)
  *
  * Each lane stays below 2³¹, so every intermediate (`h·131 + c`,
  * c ≤ 0x10FFFF) fits a 64-bit signed integer — the oracle replays the
  * fold as nested BIGINT arithmetic with no overflow, no HUGEINT, and
  * no vendor hash function ([[RollingHash.duckWindowHash]] emits the
  * expression). Two independent 31-bit lanes give a 62-bit key: for a
  * 10⁸-window corpus sample the expected collision count is ~10⁻³ —
  * fingerprint-grade — while a single 31-bit lane would already
  * produce thousands of false dup pairs at sf0.1 scale. Collisions,
  * where they occur, occur IDENTICALLY in both engines (same
  * arithmetic), so gate agreement is unaffected by the birthday math.
  *
  * Scale note: both generators run in the map stage — fingerprint
  * extraction and selection never cross an exchange; only the selected
  * (sampled / winnowed) minority of positions does.
  */
object RollingHash {
  final val M1 = 2147483647L // 2^31 - 1 (Mersenne)
  final val B1 = 131L
  final val B2 = 137L
  final val Combine = 2147483648L // 2^31
  final val MaxK = 64

  /** Code points of `s` (DuckDB `substr`/`ord`/`length` agree on code
    * points, so positions and character values line up across engines).
    */
  def codePoints(s: UTF8String): Array[Int] = s.toString.codePoints().toArray()

  /** Combined 62-bit rolling hashes of all k-windows; hs(i) is the
    * hash of the window starting at 0-based code-point i. O(n) total.
    */
  def windowHashes(cp: Array[Int], k: Int): Array[Long] = {
    val n = cp.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    val out = new Array[Long](n)
    // B^(k-1) mod M per lane, for the rolling removal step
    var p1 = 1L; var p2 = 1L
    var j = 1
    while (j < k) { p1 = p1 * B1 % M1; p2 = p2 * B2 % M1; j += 1 }
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < k) { h1 = (h1 * B1 + cp(i)) % M1; h2 = (h2 * B2 + cp(i)) % M1; i += 1 }
    out(0) = h1 * Combine + h2
    var w = 1
    while (w < n) {
      val cOut = cp(w - 1).toLong
      val cIn = cp(w + k - 1).toLong
      h1 = ((h1 - cOut * p1 % M1 + M1) % M1 * B1 + cIn) % M1
      h2 = ((h2 - cOut * p2 % M1 + M1) % M1 * B2 + cIn) % M1
      out(w) = h1 * Combine + h2
      w += 1
    }
    out
  }

  /** Winnowing selection (Schleimer–Wilkerson–Aiken, SIGMOD'03): from
    * every window of `w` consecutive hashes pick the minimum, ties to
    * the RIGHTMOST; return the distinct selected 0-based indices in
    * order. Ring-buffer min-deque, O(n); output density E[2/(w+1)].
    * Selected indices are strictly increasing (as the window advances,
    * candidates only expire on the left), so consecutive dedup is
    * global dedup.
    */
  def winnowSelect(hs: Array[Long], w: Int): Array[Int] = {
    val n = hs.length
    if (n < w) return Array.emptyIntArray
    val deque = new Array[Int](n) // indices; [head, tail)
    var head = 0; var tail = 0
    val sel = new Array[Int](n)
    var nSel = 0
    var i = 0
    while (i < n) {
      // rightmost-min: strictly-increasing deque; equal values pop
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      val lo = i - w + 1 // window [lo, i]
      if (lo >= 0) {
        while (deque(head) < lo) head += 1
        val pick = deque(head)
        if (nSel == 0 || sel(nSel - 1) != pick) { sel(nSel) = pick; nSel += 1 }
      }
      i += 1
    }
    java.util.Arrays.copyOfRange(sel, 0, nSel)
  }

  /** DuckDB expression for the combined hash of the k-window starting
    * at 1-based code-point position `posExpr` of column `textCol` —
    * the exact nested-BIGINT replay of [[windowHashes]].
    */
  def duckWindowHash(textCol: String, posExpr: String, k: Int): String = {
    def lane(b: Long): String =
      (0 until k).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
        s"(($acc * $b + ord(substr($textCol, CAST($posExpr + $i AS INT), 1))) % $M1)"
      }
    s"(${lane(B1)} * $Combine + ${lane(B2)})"
  }

  /** DuckDB boolean expression: is 1-based window position `p` (of `n`
    * total window positions, per doc) winnow-selected at window size
    * `w`? Declarative twin of [[winnowSelect]]: p is selected iff some
    * w-window containing p has it as rightmost minimum, i.e. with
    *   a = consecutive run before p with hash ≥ h(p)   (capped w−1)
    *   b = consecutive run after  p with hash > h(p)   (capped w−1)
    * ∃ window ⇔ greatest(p−a, 1) ≤ least(p+b−(w−1), n−(w−1)), n ≥ w.
    * `wn` must be a named window `PARTITION BY doc ORDER BY p`;
    * `nExpr` the per-doc window-position count.
    */
  def duckWinnowSelected(w: Int, nExpr: String): String = {
    def run(fn: String, cmp: String): String =
      (1 until w).foldRight("0") { (i, inner) =>
        s"(CASE WHEN $fn(h, $i) OVER wn $cmp h THEN 1 + $inner ELSE 0 END)"
      }
    // foldRight builds outside-in: i=1 outermost — run length counted
    // from the nearest neighbor outward, stopping at the first miss
    val a = run("lag", ">=")
    val b = run("lead", ">")
    s"($nExpr >= $w AND greatest(p - $a, 1) <= least(p + $b - ${w - 1}, $nExpr - ${w - 1}))"
  }
}

/** Eager (pos, h) array for the generator; construction is one O(n)
  * rolling pass, element access allocates only the output row.
  */
final class RollingHashRows(val pos: Array[Int], val hs: Array[Long]) extends ReadOnlyArrayData {
  override def numElements(): Int = pos.length
  override def getStruct(i: Int, numFields: Int): InternalRow =
    new GenericInternalRow(Array[Any](pos(i), hs(i)))
  override def get(ordinal: Int, dataType: DataType): AnyRef = getStruct(ordinal, 2)
  override def array: Array[Any] = Array.tabulate[Any](pos.length)(getStruct(_, 2))
}

object RollingHashRows {
  /** The rows of one generator call on either path: none for a null
    * string (a generator's generated call is not null-guarded), the
    * winnow-selected windows when `winnowW > 0`, the `keepMod` sample
    * when `keepMod > 1`, else all windows.
    */
  def of(s: UTF8String, k: Int, winnowW: Int, keepMod: Int): RollingHashRows =
    if (s == null) new RollingHashRows(Array.emptyIntArray, Array.emptyLongArray)
    else if (winnowW > 0) winnowed(s, k, winnowW)
    else if (keepMod > 1) sampled(s, k, keepMod)
    else all(s, k)

  /** All k-windows: (1-based pos, combined hash). */
  private def all(s: UTF8String, k: Int): RollingHashRows = {
    val hs = RollingHash.windowHashes(RollingHash.codePoints(s), k)
    new RollingHashRows(Array.tabulate(hs.length)(_ + 1), hs)
  }

  /** Content-defined sample: only windows with h % keepMod == 0 —
    * the discarded majority never materializes as generator rows (a
    * downstream `WHERE h % m = 0` pays one output-row allocation per
    * window; at 1/8 keep that is 8× the allocations for the same
    * result).
    */
  private def sampled(s: UTF8String, k: Int, keepMod: Int): RollingHashRows = {
    val hs = RollingHash.windowHashes(RollingHash.codePoints(s), k)
    val sp = new Array[Int](hs.length)
    val sh = new Array[Long](hs.length)
    var n = 0
    var i = 0
    while (i < hs.length) {
      if (hs(i) % keepMod == 0) { sp(n) = i + 1; sh(n) = hs(i); n += 1 }
      i += 1
    }
    new RollingHashRows(
      java.util.Arrays.copyOfRange(sp, 0, n), java.util.Arrays.copyOfRange(sh, 0, n))
  }

  /** Winnow-selected fingerprints: (1-based pos, combined hash). */
  private def winnowed(s: UTF8String, k: Int, w: Int): RollingHashRows = {
    val hs = RollingHash.windowHashes(RollingHash.codePoints(s), k)
    val sel = RollingHash.winnowSelect(hs, w)
    val sh = new Array[Long](sel.length)
    val sp = new Array[Int](sel.length)
    var i = 0
    while (i < sel.length) { sp(i) = sel(i) + 1; sh(i) = hs(sel(i)); i += 1 }
    new RollingHashRows(sp, sh)
  }
}

/** Catalyst Generator `rolling_hashes(text, k)` → rows
  * `(pos INT 1-based, h BIGINT)` for every character k-window, and
  * `winnow_fingerprints(text, k, w)` → the winnow-selected subset.
  * [[CollectionGenerator]] with `inline = true` so `GenerateExec`
  * consumes the rows inside WholeStageCodegen (the
  * [[NgramHashGenerator]] contract).
  */
case class RollingHashGenerator(
    child: Expression, k: Int, winnowW: Int = 0, keepMod: Int = 1)
    extends UnaryExpression with CollectionGenerator {

  override def position: Boolean = false
  override def inline: Boolean = true
  override def elementSchema: StructType =
    new StructType()
      .add("pos", IntegerType, nullable = false)
      .add("h", LongType, nullable = false)
  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: org.apache.spark.sql.types.StringType
        if k >= 1 && k <= RollingHash.MaxK && winnowW >= 0 && winnowW <= 64 &&
          keepMod >= 1 && (winnowW == 0 || keepMod == 1) =>
        TypeCheckResult.TypeCheckSuccess
      case _: org.apache.spark.sql.types.StringType =>
        TypeCheckResult.TypeCheckFailure(
          s"need 1 <= k <= ${RollingHash.MaxK}, 0 <= w <= 64, keepMod >= 1 " +
            s"(and not both w and keepMod), got k=$k w=$winnowW keepMod=$keepMod")
      case other =>
        TypeCheckResult.TypeCheckFailure(s"rolling_hashes needs a string column, got $other")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    RollingHashRows.of(child.eval(input).asInstanceOf[UTF8String], k, winnowW, keepMod).structRows(2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.RollingHashRows.of($c, $k, $winnowW, $keepMod)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashGenerator =
    copy(child = newChild)
}
