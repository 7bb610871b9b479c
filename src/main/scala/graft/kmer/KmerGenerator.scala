package graft.kmer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ReadOnlyArrayData

/** Lazily-evaluated ArrayData of all width-k windows of a string: window
  * i is computed on demand when the Generate loop asks for element i —
  * the collection is never materialized as an array of n strings (the
  * `explode(sequence(...))` formulation allocates an O(len) position
  * array per row; a naive CollectionGenerator would allocate the O(len)
  * window array).
  *
  * Element access cost: for ASCII rows (char count == byte count — the
  * overwhelming case for corpus text) each window is an O(1) zero-copy
  * slice of the row's byte array. For multibyte rows a sequential
  * char→byte cursor makes in-order access (the Generate loop's pattern)
  * amortized O(k) per window instead of O(len).
  */
final class KmerWindowsArrayData(s: UTF8String, k: Int) extends ReadOnlyArrayData {
  private[kmer] val bytes: Array[Byte] = s.getBytes
  private[this] val nChars: Int = s.numChars()
  private[kmer] val ascii: Boolean = bytes.length == nChars
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
  * aggregates [[KmerCodeGenerator]]'s packed codes. This one yields the
  * window relation itself ([[Kmers.kmersGen]]), the distinct-count
  * queries and the dedup shingles.
  */
case class KmerGenerator(child: Expression, k: Int)
    extends UnaryExpression with CollectionGenerator {

  override def position: Boolean = false
  override def inline: Boolean = false
  override def collectionType: DataType = ArrayType(StringType, containsNull = false)

  override def elementSchema: StructType = new StructType().add("word", StringType, nullable = false)

  override def checkInputDataTypes(): TypeCheckResult =
    KmerCodes.checkWindowInput("kmer_windows", child, k)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val arr = new KmerWindowsArrayData(v.asInstanceOf[UTF8String], k)
      Iterator.tabulate(arr.numElements())(i => InternalRow(arr.getUTF8String(i)))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"new graft.kmer.KmerWindowsArrayData($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KmerGenerator =
    copy(child = newChild)
}

/** The packed-key kernels shared by [[KmerCodeGenerator]], [[KmerDecode]]
  * and their generated code. A window made only of `A`/`C`/`G`/`T`
  * packs at 2 bits a base (A=0 C=1 G=2 T=3, first base most
  * significant) into a BIGINT, so up to 32 bases fit — the key a
  * dedicated k-mer counter hashes (Jellyfish, Marçais & Kingsford 2011).
  */
object KmerCodes {
  /** Widest window that packs into a BIGINT. */
  val MaxPackedK = 32

  /** Widest window whose rows may pre-count their leading ACGT run in a
    * dense `int[4^k]` (4 MB at k = 10). A constant, not a setting: the
    * table is only built for a row with at least 4^k windows, so its
    * cost never exceeds the row's own window count.
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

  // The dense-prefix loops below are methods, not constructor code in
  // KmerCodesArrayData: there HotSpot did not compile them (46 ms instead
  // of 1.5 ms for a 300 kb row on a 4-vCPU host).

  /** Length of the leading `ACGT` run of `bytes`. */
  def acgtRun(bytes: Array[Byte]): Int = {
    var run = 0
    while (run < bytes.length && base(bytes(run)) >= 0) run += 1
    run
  }

  /** Count of each code among the width-k windows of the ACGT run
    * `bytes[0, run)`, in an `int[4^k]` indexed by code.
    */
  def countWindows(bytes: Array[Byte], run: Int, k: Int): Array[Int] = {
    val m = (1 << (2 * k)) - 1
    val cnt = new Array[Int](m + 1)
    var c = 0
    var j = 0
    while (j < k - 1) { c = (c << 2) | base(bytes(j)); j += 1 }
    while (j < run) {
      c = ((c << 2) | base(bytes(j))) & m
      cnt(c) += 1
      j += 1
    }
    cnt
  }

  /** Moves the non-zero counts of `cnt` to its front, in code order, with
    * their codes into `codes`; returns how many there are. In place: slot
    * d <= c has been read before it is written.
    */
  def compact(cnt: Array[Int], codes: Array[Int]): Int = {
    var d = 0
    var c = 0
    while (c < cnt.length) {
      val x = cnt(c)
      if (x != 0) { codes(d) = c; cnt(d) = x; d += 1 }
      c += 1
    }
    d
  }

  /** The width-k window a packed code stands for. */
  def decode(code: Long, k: Int): UTF8String = {
    val out = new Array[Byte](k)
    var c = code
    var i = k - 1
    while (i >= 0) { out(i) = Letters((c & 3).toInt); c >>>= 2; i -= 1 }
    UTF8String.fromBytes(out)
  }

  /** Type check shared by the window generators. */
  def checkWindowInput(fn: String, child: Expression, k: Int): TypeCheckResult =
    child.dataType match {
      case _: StringType if k >= 1 && k <= Kmers.MaxK => TypeCheckResult.TypeCheckSuccess
      case _: StringType => TypeCheckResult.TypeCheckFailure(s"$fn: k must be in [1, ${Kmers.MaxK}], got $k")
      case other => TypeCheckResult.TypeCheckFailure(s"$fn needs a string column, got $other")
    }
}

/** Lazily-evaluated rows `(code, word, n)` for all width-k windows of a
  * string, the collection behind [[KmerCodeGenerator]]. A window made
  * only of `ACGT` with k <= 32 is `(code, null, 1)`; any other window
  * (lowercase, `N`, text, multibyte, or k > 32) is `(0, window, 1)`, so
  * the key (code, word) depends only on the window's content.
  *
  * Dense prefix: when the row is ASCII, has at least 4^k windows and
  * k <= [[KmerCodes.DenseMaxK]], the construction counts the windows of
  * the row's leading ACGT run into an `int[4^k]` and the first elements
  * are one `(code, null, count)` per distinct code. The windows from the
  * run's end on go out one at a time, so a text row (whose run ends
  * within a byte or two) costs one short scan.
  *
  * One at a time, an ASCII row keeps a rolling code and the position of
  * the last non-ACGT byte, so in-order access (the Generate loop's
  * pattern) costs O(1) a window; a multibyte row checks each window's
  * bytes. Every element is written into one reused row: the generated
  * loop reads its fields before it asks for the next element.
  */
final class KmerCodesArrayData(s: UTF8String, k: Int) extends ReadOnlyArrayData {
  import KmerCodes.base

  private[this] val windows = new KmerWindowsArrayData(s, k)
  private[this] val bytes = windows.bytes
  private[this] val packs = k <= KmerCodes.MaxPackedK
  private[this] val mask = KmerCodes.mask(k)

  // dense prefix: element j < nDense is codes(j) seen counts(j) times;
  // later elements are the windows starting at `first` onwards
  private[this] var codes: Array[Int] = null
  private[this] var counts: Array[Int] = null
  private[this] var nDense = 0
  private[this] var first = 0
  locally {
    val size = 1 << (2 * k)
    if (windows.ascii && k <= KmerCodes.DenseMaxK && windows.numElements() >= size) {
      val run = KmerCodes.acgtRun(bytes)
      if (run >= k) {
        counts = KmerCodes.countWindows(bytes, run, k)
        codes = new Array[Int](math.min(size, run - k + 1))
        nDense = KmerCodes.compact(counts, codes)
        first = run - k + 1
      }
    }
  }

  // rolling state of the one-at-a-time ASCII path: `code` holds the
  // last k bases up to the byte before window `next` ends
  private[this] var next = -1
  private[this] var code = 0L
  private[this] var lastBad = 0

  private[this] val row = new SpecificInternalRow(Seq(LongType, StringType, LongType))

  override def numElements(): Int = nDense + windows.numElements() - first

  private def roll(j: Int): Unit = {
    val b = base(bytes(j))
    if (b < 0) lastBad = j
    code = ((code << 2) | (b & 3)) & mask
  }

  private def emit(c: Long, w: UTF8String, n: Long): InternalRow = {
    row.setLong(0, c)
    if (w == null) row.setNullAt(1) else row.update(1, w)
    row.setLong(2, n)
    row
  }

  override def getStruct(i: Int, numFields: Int): InternalRow =
    if (i < nDense) emit(codes(i), null, counts(i))
    else {
      val p = first + i - nDense
      if (!packs) emit(0L, windows.getUTF8String(p), 1L)
      else if (windows.ascii) {
        if (p != next) {
          code = 0L
          lastBad = p - 1
          var j = p
          while (j < p + k - 1) { roll(j); j += 1 }
        }
        roll(p + k - 1)
        next = p + 1
        if (lastBad < p) emit(code, null, 1L) else emit(0L, windows.getUTF8String(p), 1L)
      } else {
        val w = windows.getUTF8String(p)
        var pure = w.numBytes == k
        var c = 0L
        var j = 0
        while (pure && j < k) {
          val b = base(w.getByte(j))
          pure = b >= 0
          c = (c << 2) | (b & 3)
          j += 1
        }
        if (pure) emit(c, null, 1L) else emit(0L, w, 1L)
      }
    }

  override def get(ordinal: Int, dataType: DataType): AnyRef = getStruct(ordinal, 3)
  override def array: Array[Any] = Array.tabulate[Any](numElements())(getStruct(_, 3).copy())
}

/** Catalyst Generator `kmer_codes(text, k)`: rows `(code BIGINT, word
  * STRING, n BIGINT)` over all width-k windows (see
  * [[KmerCodesArrayData]]), so `groupBy(code, word).sum(n)` counts
  * every distinct window exactly and [[KmerDecode]] turns a packed key
  * back into its string once per output row. The counting path of
  * [[Kmers.kmerCounts]]: DNA windows shuffle and hash as one BIGINT
  * instead of a k-byte string, and a long DNA row sends at most 4^k
  * pre-counted rows into the partial aggregate instead of one per
  * window.
  *
  * A `CollectionGenerator` with `inline = true`, like the text
  * generators, so `GenerateExec` runs the loop inside WholeStageCodegen;
  * the interpreted `eval` walks the same collection.
  *
  * Scale notes: a row's expansion holds the row's bytes plus, in the
  * dense mode, one `int[4^k]` (at most 4 MB) and its distinct codes —
  * never more than the row's window count in ints. Output rows per DNA
  * row drop from len − k + 1 to at most 4^k, which is what the partial
  * aggregate and the shuffle see.
  */
case class KmerCodeGenerator(child: Expression, k: Int)
    extends UnaryExpression with CollectionGenerator {

  override def prettyName: String = "kmer_codes"
  override def position: Boolean = false
  override def inline: Boolean = true
  override def elementSchema: StructType =
    new StructType()
      .add("code", LongType, nullable = false)
      .add("word", StringType, nullable = true)
      .add("n", LongType, nullable = false)
  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = KmerCodes.checkWindowInput(prettyName, child, k)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val arr = new KmerCodesArrayData(v.asInstanceOf[UTF8String], k)
      Iterator.tabulate(arr.numElements())(arr.getStruct(_, 3).copy())
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"new graft.kmer.KmerCodesArrayData($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KmerCodeGenerator =
    copy(child = newChild)
}

/** `kmer_decode(code, k)`: the width-k ACGT string a packed
  * [[KmerCodeGenerator]] code stands for; one kernel
  * ([[KmerCodes.decode]]) on the interpreted and generated paths. It
  * takes every k the generators take, so [[Kmers.kmerCounts]] is one
  * plan for all k; above 32 no window packs, and a code reads as
  * zero-extended (leading `A`s).
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
