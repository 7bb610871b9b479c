package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructType}
import graft.functions.ReadOnlyArrayData

/** Lazily-evaluated ArrayData of `(n, gh, glen)` rows for every
  * word-n-gram window of a token array, n ∈ [minN, maxN] — the n-gram
  * STRING never exists. Per token, ONE xxh64; per (position, n) window,
  * O(1) arithmetic off two prefix tables:
  *
  *  - `gh` is a rolling polynomial combine of the per-token hashes:
  *    with prefix hashes H[p+1] = H[p]·P + th[p] (mod 2⁶⁴) and
  *    precomputed powers Pⁿ, the window hash is
  *    H[pos+n] − H[pos]·Pⁿ — distinct token sequences collide with
  *    probability ~2⁻⁶⁴ like any 64-bit content hash;
  *  - `glen` is the joined-gram character length (token chars + n−1
  *    separators) off a prefix-sum table, so downstream count×length
  *    mass equals exactly what the string formulation computes.
  *
  * Layout is n-major (all n=minN windows, then n=minN+1, …): the
  * Generate loop reads indices in order, and a 2-entry cursor makes the
  * block lookup O(1) amortized. Construction is O(T) in the token
  * count; element access allocates only the 3-field output row.
  */
final class NgramHashArrayData(toks: ArrayData, minN: Int, maxN: Int) extends ReadOnlyArrayData {
  // null tokens (a generator's generated call is not null-guarded) have no windows
  private[this] val t: Int = if (toks == null) 0 else toks.numElements()
  // prefix polynomial hashes and prefix char lengths
  private[this] val hp: Array[Long] = new Array[Long](t + 1)
  private[this] val lp: Array[Long] = new Array[Long](t + 1)
  locally {
    var p = 0
    while (p < t) {
      val u = toks.getUTF8String(p)
      val th = if (u == null) 0L
        else XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      hp(p + 1) = hp(p) * NgramHashArrayData.P + th
      lp(p + 1) = lp(p) + (if (u == null) 0 else u.numChars())
      p += 1
    }
  }
  private[this] val pows: Array[Long] = {
    val a = new Array[Long](maxN + 1)
    a(0) = 1L
    var i = 1
    while (i <= maxN) { a(i) = a(i - 1) * NgramHashArrayData.P; i += 1 }
    a
  }
  // block n-major: block for n has max(0, t-n+1) elements
  private def blockSize(n: Int): Int = if (t - n + 1 > 0) t - n + 1 else 0
  private[this] val total: Int = {
    var s = 0; var n = minN
    while (n <= maxN) { s += blockSize(n); n += 1 }
    s
  }
  // sequential cursor: first flat index of the cursor block
  private[this] var curN: Int = minN
  private[this] var curBase: Int = 0

  override def numElements(): Int = total

  override def getStruct(i: Int, numFields: Int): InternalRow = {
    if (i < curBase) { curN = minN; curBase = 0 }
    while (i >= curBase + blockSize(curN)) { curBase += blockSize(curN); curN += 1 }
    val n = curN
    val pos = i - curBase
    val gh = hp(pos + n) - hp(pos) * pows(n)
    val glen = lp(pos + n) - lp(pos) + (n - 1)
    new GenericInternalRow(Array[Any](n, gh, glen))
  }

  override def get(ordinal: Int, dataType: DataType): AnyRef = getStruct(ordinal, 3)

  override def array: Array[Any] = Array.tabulate[Any](total)(i => getStruct(i, 3))
}

object NgramHashArrayData {
  /** Odd multiplier (xxh64 prime 1) — any odd constant keeps the
    * polynomial combine a bijection per step mod 2⁶⁴. */
  final val P: Long = 0x9E3779B185EBCA87L
}

/** Catalyst Generator `ngram_hashes(tokens, minN, maxN)` → rows
  * `(n INT, gh BIGINT, glen BIGINT)` for every word-n-gram window —
  * the repetition family's replacement for "explode 9 n-values ×
  * explode joined gram strings": one generator pass, no per-gram
  * string construction, no 9× re-walk of the token array. Implements
  * [[CollectionGenerator]] with `inline = true` so `GenerateExec`
  * consumes the LAZY [[NgramHashArrayData]] inside WholeStageCodegen
  * (same contract as [[graft.kmer.KmerGenerator]]).
  *
  * Null-token semantics (documented divergence): a NULL array element
  * hashes as an empty-length token (hash 0, 0 chars) but still
  * occupies a window position and contributes a separator to `glen`,
  * whereas the `array_join`/`concat_ws` string formulation (and the
  * DuckDB oracle) silently DROPS null elements and their delimiters.
  * Every engine caller tokenizes via `split(...)`, which can never
  * produce null elements, so the divergence is unreachable in the
  * gate; callers feeding hand-built arrays must not rely on
  * array_join's null-dropping. Treating null as a positional
  * empty token is the deliberate choice — dropping positions would
  * make window count depend on data the generator streams past.
  */
case class NgramHashGenerator(child: Expression, minN: Int, maxN: Int)
    extends UnaryExpression with CollectionGenerator {

  override def position: Boolean = false
  override def inline: Boolean = true
  override def elementSchema: StructType =
    new StructType()
      .add("n", IntegerType, nullable = false)
      .add("gh", LongType, nullable = false)
      .add("glen", LongType, nullable = false)
  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: org.apache.spark.sql.types.StringType, _)
        if minN >= 1 && maxN >= minN && maxN <= 64 => TypeCheckResult.TypeCheckSuccess
      case ArrayType(_: org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckFailure(s"need 1 <= minN <= maxN <= 64, got [$minN, $maxN]")
      case other =>
        TypeCheckResult.TypeCheckFailure(s"ngram_hashes needs array<string> tokens, got $other")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    new NgramHashArrayData(child.eval(input).asInstanceOf[ArrayData], minN, maxN).structRows(3)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"new graft.text.NgramHashArrayData($c, $minN, $maxN)")

  override protected def withNewChildInternal(newChild: Expression): NgramHashGenerator =
    copy(child = newChild)
}
