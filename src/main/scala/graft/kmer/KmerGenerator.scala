package graft.kmer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ReadOnlyArrayData

/** Lazily-evaluated ArrayData of all width-k windows of a string: window
  * i is computed on demand when the Generate loop asks for element i —
  * the collection is never materialized as an array of n strings (the
  * `explode(sequence(...))` formulation allocates an O(len) position
  * array per row; a naive CollectionGenerator would allocate the O(len)
  * window array).
  *
  * Element access cost: for ASCII rows (no byte with its high bit set —
  * the overwhelming case for corpus text) each window is an O(1)
  * zero-copy slice of the row's byte array. For multibyte rows a
  * sequential char→byte cursor makes in-order access (the Generate
  * loop's pattern) amortized O(k) per window instead of O(len).
  *
  * Construction tests the row for ASCII eight bytes at a time
  * ([[KmerWindowsArrayData.isAscii]]) and counts chars, one walk over
  * the row, only for a multibyte row.
  */
final class KmerWindowsArrayData(s: UTF8String, k: Int) extends ReadOnlyArrayData {
  private[kmer] val bytes: Array[Byte] = s.getBytes
  private[kmer] val ascii: Boolean = KmerWindowsArrayData.isAscii(bytes)
  private[this] val nChars: Int = if (ascii) bytes.length else s.numChars()
  private[this] val n: Int = if (nChars < k) 0 else nChars - k + 1
  // sequential-access cursor: byte offset of char `curChar` (multibyte path)
  private[this] var curChar: Int = 0
  private[this] var curByte: Int = 0

  override def numElements(): Int = n

  private def byteOffsetOf(charPos: Int): Int = {
    if (charPos < curChar) { curChar = 0; curByte = 0 }
    while (curChar < charPos) {
      curByte += UTF8String.numBytesForFirstByte(bytes(curByte))
      curChar += 1
    }
    curByte
  }

  override def getUTF8String(i: Int): UTF8String =
    if (ascii) UTF8String.fromBytes(bytes, i, k)
    else {
      val start = byteOffsetOf(i)
      var end = start
      var c = 0
      while (c < k) { end += UTF8String.numBytesForFirstByte(bytes(end)); c += 1 }
      UTF8String.fromBytes(bytes, start, end - start)
    }

  override def get(ordinal: Int, dataType: DataType): AnyRef = getUTF8String(ordinal)
  override def array: Array[Any] =
    Array.tabulate[Any](n)(i => getUTF8String(i).clone())
}

object KmerWindowsArrayData {
  /** The windows of one `kmer_windows` call on either path; a null
    * string has none. Generated code needs the null case here: a
    * generator is never nullable, so Spark's generated null check
    * around the call is omitted.
    */
  def of(s: UTF8String, k: Int): KmerWindowsArrayData =
    new KmerWindowsArrayData(if (s == null) UTF8String.EMPTY_UTF8 else s, k)

  private val HighBits = 0x8080808080808080L

  /** Whether no byte of `b` has its high bit set: the bytes OR'd eight at
    * a time, then the tail one at a time.
    */
  def isAscii(b: Array[Byte]): Boolean = {
    val words = b.length & ~7
    var acc = 0L
    var i = 0
    while (i < words) { acc |= Platform.getLong(b, Platform.BYTE_ARRAY_OFFSET + i); i += 8 }
    while (i < b.length) { acc |= b(i); i += 1 }
    (acc & HighBits) == 0
  }
}

/** Catalyst Generator emitting all width-k windows of a string — the
  * direct analog of the reference's Map kernel (one work-item per
  * character position, reference `src/GPU_Module/GPU.cpp:32-45`).
  *
  * Implements the `CollectionGenerator` contract so `GenerateExec`
  * keeps the explode inside WholeStageCodegen: `doGenCode` yields a
  * [[KmerWindowsArrayData]] — a LAZY collection whose elements are
  * computed as the generated loop indexes them — so the codegen path
  * materializes neither the O(len) position array of the
  * `explode(sequence(...))` formulation nor an O(len) window array.
  * The interpreted `eval` (non-WSCG contexts) walks the same lazy
  * collection.
  *
  * Counting does not go through this generator: [[Kmers.kmerCounts]]
  * is one [[KmerCount]] node. This one yields the window relation
  * itself ([[Kmers.kmersGen]]), the distinct-count queries and the dedup
  * shingles.
  */
case class KmerGenerator(child: Expression, k: Int)
    extends UnaryExpression with CollectionGenerator {

  override def position: Boolean = false
  override def inline: Boolean = false
  override def collectionType: DataType = ArrayType(StringType, containsNull = false)

  override def elementSchema: StructType = new StructType().add("word", StringType, nullable = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType if k >= 1 && k <= Kmers.MaxK => TypeCheckResult.TypeCheckSuccess
      case _: StringType => TypeCheckResult.TypeCheckFailure(s"kmer_windows: k must be in [1, ${Kmers.MaxK}], got $k")
      case other => TypeCheckResult.TypeCheckFailure(s"kmer_windows needs a string column, got $other")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = KmerWindowsArrayData.of(child.eval(input).asInstanceOf[UTF8String], k)
    Iterator.tabulate(arr.numElements())(i => InternalRow(arr.getUTF8String(i)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kmer.KmerWindowsArrayData.of($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KmerGenerator =
    copy(child = newChild)
}

/** The packed-key kernels shared by [[KmerWindowCursor]],
  * [[KmerPartitionCounter]], [[KmerDecode]] and their generated code. A
  * window made only of `A`/`C`/`G`/`T` packs at 2 bits a base (A=0 C=1 G=2 T=3, first base most
  * significant) into a BIGINT, so up to 32 bases fit — the key a
  * dedicated k-mer counter hashes (Jellyfish, Marçais & Kingsford 2011).
  */
object KmerCodes {
  /** Widest window that packs into a BIGINT. */
  val MaxPackedK = 32

  /** Widest window [[KmerPartitionCounter]] counts in a dense `int[4^k]`
    * per partition (4 MB at k = 10); wider ACGT windows are sorted in
    * chunks instead. A constant, not a setting.
    */
  val DenseMaxK = 10

  private[this] val Letters: Array[Byte] = "ACGT".getBytes("US-ASCII")

  /** Base code of each byte value; -1 for everything but `ACGT`. */
  private[this] val BaseCode: Array[Byte] = {
    val t = Array.fill[Byte](256)(-1)
    Letters.indices.foreach(i => t(Letters(i)) = i.toByte)
    t
  }

  def base(b: Byte): Int = BaseCode(b & 0xff)

  /** The low 2k bits. */
  def mask(k: Int): Long = if (k >= 32) -1L else (1L << (2 * k)) - 1

  /** The width-k window a packed code stands for. */
  def decode(code: Long, k: Int): UTF8String = {
    val out = new Array[Byte](k)
    var c = code
    var i = k - 1
    while (i >= 0) { out(i) = Letters((c & 3).toInt); c >>>= 2; i -= 1 }
    UTF8String.fromBytes(out)
  }
}

/** The width-k windows of one string, each classified by its content:
  * a window made only of `ACGT` with k <= 32 packs into a code (2 bits a
  * base, [[KmerCodes]]); any other (lowercase, `N`, text, multibyte, or
  * k > 32) is its string. The classification kernel of
  * [[KmerPartitionCounter]].
  *
  * An ASCII row keeps a rolling code and the position of the last
  * non-ACGT byte, so in-order access costs O(1) a window; a multibyte
  * row checks each window's bytes.
  */
final class KmerWindowCursor(s: UTF8String, k: Int) {
  import KmerCodes.base

  private[this] val windows = new KmerWindowsArrayData(s, k)
  private[this] val bytes = windows.bytes
  private[this] val packable = k <= KmerCodes.MaxPackedK
  private[this] val rolling = packable && windows.ascii
  private[this] val mask = KmerCodes.mask(k)

  /** The number of windows. */
  val size: Int = windows.numElements()

  // rolling state: `packed` holds the last k bases up to the byte
  // before window `next` ends
  private[this] var next = -1
  private[this] var packed = 0L
  private[this] var lastBad = 0

  /** The code of the last window [[packs]] accepted. */
  def code: Long = packed

  /** Window `p` as a string. */
  def window(p: Int): UTF8String = windows.getUTF8String(p)

  /** Whether window `p` packs; if so, [[code]] holds its code. */
  def packs(p: Int): Boolean =
    if (rolling) {
      if (p != next) restart(p)
      roll(p + k - 1)
      next = p + 1
      lastBad < p
    } else packable && packMultibyte(window(p))

  private def restart(p: Int): Unit = {
    packed = 0L
    lastBad = p - 1
    var j = p
    while (j < p + k - 1) { roll(j); j += 1 }
  }

  private def roll(j: Int): Unit = {
    val b = base(bytes(j))
    if (b < 0) lastBad = j
    packed = ((packed << 2) | (b & 3)) & mask
  }

  private def packMultibyte(w: UTF8String): Boolean = {
    var pure = w.numBytes == k
    var c = 0L
    var j = 0
    while (pure && j < k) {
      val b = base(w.getByte(j))
      pure = b >= 0
      c = (c << 2) | (b & 3)
      j += 1
    }
    if (pure) packed = c
    pure
  }
}

/** `kmer_decode(code, k)`: the width-k ACGT string a packed
  * [[KmerCount]] code stands for; one kernel ([[KmerCodes.decode]]) on
  * the interpreted and generated paths. It takes every k the window
  * generator takes, so [[Kmers.kmerCounts]] is one plan for all k;
  * above 32 no window packs, and a code reads as zero-extended
  * (leading `A`s).
  */
case class KmerDecode(child: Expression, k: Int) extends UnaryExpression {
  override def prettyName: String = "kmer_decode"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType if k >= 1 && k <= Kmers.MaxK => TypeCheckResult.TypeCheckSuccess
      case LongType => TypeCheckResult.TypeCheckFailure(s"kmer_decode: k must be in [1, ${Kmers.MaxK}], got $k")
      case other => TypeCheckResult.TypeCheckFailure(s"kmer_decode needs a BIGINT code, got $other")
    }

  override protected def nullSafeEval(code: Any): Any = KmerCodes.decode(code.asInstanceOf[Long], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.kmer.KmerCodes.decode($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KmerDecode =
    copy(child = newChild)
}
