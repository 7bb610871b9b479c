package graft.kmer

import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, DirectShufflePartitionID, Expression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, HashPartitioning, Partitioning, ShufflePartitionIdPassThrough}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `KmerCount(text, k)`: every distinct width-k window of the child's
  * `text` column with its count, as rows `(code BIGINT, word STRING, n
  * BIGINT)` — an ACGT window with k <= 32 is `(code, null, n)` (2-bit
  * packed, as [[KmerWindowCursor]] packs it), any other window
  * `(0, window, n)`. The logical form of [[Kmers.kmerCounts]];
  * [[KmerCountStrategy]] plans it.
  */
case class KmerCount(text: Expression, k: Int, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): KmerCount = copy(child = newChild)
}

object KmerCount {

  /** The counts of the width-k windows of `df`'s string column `textCol`. */
  def frame(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val child = df.select(textCol).queryExecution.analyzed
    val text = child.output.head
    require(text.dataType.isInstanceOf[StringType], s"kmer count needs a string column, got ${text.dataType}")
    val output = Seq(
      AttributeReference("code", LongType, nullable = false)(),
      AttributeReference("word", StringType, nullable = true)(),
      AttributeReference("n", LongType, nullable = false)())
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new org.apache.spark.sql.classic.Dataset[Row](
      spark, KmerCount(text, k, output, child), Encoders.row(DataTypeUtils.fromAttributes(output)))
  }

  /** The map side's rows at k <= [[KmerCodes.DenseMaxK]]: `(part INT,
    * word STRING, n BIGINT, block BINARY)`. A count block is `(b, null,
    * 0, counts)`: block b of the slice's dense table ([[KmerBlocks]]),
    * routed to reduce partition b. A string window is `(hash, word, n,
    * null)`, routed by its bytes' hash.
    */
  def blockRows(): Seq[Attribute] = Seq(
    AttributeReference("part", IntegerType, nullable = false)(),
    AttributeReference("word", StringType, nullable = true)(),
    AttributeReference("n", LongType, nullable = false)(),
    AttributeReference("block", BinaryType, nullable = true)())
}

/** Plans [[KmerCount]] as the reference's Map → Reduce (reference
  * `src/CPU_Module/CPU.cpp:75-122`) inside Spark's plan, in one of two
  * shapes. Both exchanges are by-number repartitions
  * (`REPARTITION_BY_NUM`) into `spark.sql.shuffle.partitions`
  * partitions, so AQE keeps every reduce task instead of coalescing
  * them.
  *
  *  - k <= [[KmerCodes.DenseMaxK]]: [[KmerCountExec]] emits each slice's
  *    dense table as one count block per reduce partition → an exchange
  *    that sends block b to partition b and a string window to its
  *    hash's partition (`ShufflePartitionIdPassThrough`) → Spark's
  *    `SortExec` on (word, part), which puts the blocks first →
  *    [[KmerBlockSumExec]] sums the blocks into codes and the string
  *    runs into counts.
  *  - Above: [[KmerCountExec]] → an exchange hash-partitioned on (code,
  *    word) → `SortExec` on (code, word), which [[KmerSumExec]] requires
  *    → [[KmerSumExec]] sums equal neighbours: the reference's sort-based
  *    segmented reduce.
  *
  * Injected by `GraftExtensions`; `GraftSession.adopt` adds it to a
  * session the engine did not build.
  */
object KmerCountStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KmerCount(text, k, output, child) =>
      val n = SQLConf.get.defaultNumShufflePartitions
      if (k <= KmerCodes.DenseMaxK) {
        val rows = KmerCount.blockRows()
        val partial = KmerCountExec(text, k, n, rows, planLater(child))
        val exchange = ShuffleExchangeExec(
          ShufflePartitionIdPassThrough(DirectShufflePartitionID(rows.head), n), partial, REPARTITION_BY_NUM)
        KmerBlockSumExec(k, n, output, exchange) :: Nil
      } else {
        val partial = KmerCountExec(text, k, n, output, planLater(child))
        val exchange = ShuffleExchangeExec(HashPartitioning(output.take(2), n), partial, REPARTITION_BY_NUM)
        KmerSumExec(exchange) :: Nil
      }
    case _ => Nil
  }
}

/** The map side of [[KmerCount]]: one [[KmerPartitionCounter]] per
  * partition, so a partition emits each window it holds once per
  * counter flush, with its count; at k <= [[KmerCodes.DenseMaxK]] it
  * emits its dense table as one count block for each of the
  * `partitions` reduce partitions.
  *
  * When the child has fewer partitions than the session has task slots
  * (`defaultParallelism`), the map side reads the union of `S =
  * defaultParallelism / childPartitions` copies of the child, so each
  * child partition runs as S tasks: slice j (a partition of copy j)
  * re-reads its parent partition and counts windows `[size·j/S,
  * size·(j+1)/S)` of each row. Every window is counted by exactly one
  * slice, and the reduce side's sum stays exact. No shuffle or stage is
  * added; a child with at least as many partitions as slots gives S = 1,
  * the unsliced plan.
  */
case class KmerCountExec(text: Expression, k: Int, partitions: Int, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val bound = BindReferences.bindReference(text, child.output)
    val parent = child.execute()
    val parts = parent.getNumPartitions
    val slots = sparkContext.defaultParallelism
    val slices = if (parts > 0 && parts < slots) slots / parts else 1
    // built directly: `SparkContext.union` would zip copies that share a
    // partitioner instead of concatenating them
    val input = if (slices == 1) parent else new UnionRDD(sparkContext, Seq.fill(slices)(parent))
    input.mapPartitionsWithIndex { (i, rows) =>
      val texts = rows.map(r => bound.eval(r).asInstanceOf[UTF8String]).filter(_ != null)
      new KmerPartitionCounter(texts, k, slice = i / parts, slices = slices, partitions = partitions)
        .map { r => numOutputRows += 1; r }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KmerCountExec = copy(child = newChild)
}

/** The reduce side of [[KmerCount]]: over input sorted on (code, word)
  * (its required child ordering, which Spark's `SortExec` provides, and
  * spills when it must), sums the counts of each run of equal keys in
  * O(1) memory and emits one row per distinct window.
  */
case class KmerSumExec(child: SparkPlan) extends UnaryExecNode {
  private def keys: Seq[Attribute] = child.output.take(2)

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(keys.map(SortOrder(_, Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions(rows => new KmerRunSum(rows, coded = true).map { r => numOutputRows += 1; r })
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KmerSumExec = copy(child = newChild)
}

/** The dense regime's reduce side of [[KmerCount]]: over
  * [[KmerCount.blockRows]] sorted on (word, part) — its required child
  * ordering, which Spark's `SortExec` provides, so every count block
  * comes before the string windows, grouped by block id — sums each
  * block id's blocks into one `long[]` and emits its nonzero codes as
  * `(code, null, n)` in code order, then sums each run of equal string
  * windows into `(0, word, n)`. The exchange sends every block of id b to
  * partition b, so a task sums one block id; any other routing stays
  * exact.
  */
case class KmerBlockSumExec(k: Int, partitions: Int, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(child.output(1), Ascending), SortOrder(child.output(0), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions { rows =>
      KmerBlocks.sum(rows, k, partitions).map { r => numOutputRows += 1; r }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KmerBlockSumExec = copy(child = newChild)
}

/** Sums the counts of each run of equal keys of sorted `(code?, word, n)`
  * rows — the key is (code, word) when `coded`, else the word alone,
  * with code 0 — in O(1) memory, one `(code, word, n)` row per key.
  */
private[kmer] final class KmerRunSum(rows: Iterator[InternalRow], coded: Boolean) extends Iterator[InternalRow] {
  private[this] val writer = new UnsafeRowWriter(3)
  private[this] var pending: InternalRow = if (rows.hasNext) rows.next() else null

  override def hasNext: Boolean = pending != null

  override def next(): InternalRow = {
    if (pending == null) throw new NoSuchElementException
    val code = if (coded) pending.getLong(0) else 0L
    val word = if (pending.isNullAt(1)) null else pending.getUTF8String(1).clone()
    var n = pending.getLong(2)
    pending = null
    while (pending == null && rows.hasNext) {
      val r = rows.next()
      val same = (!coded || r.getLong(0) == code) &&
        (if (word == null) r.isNullAt(1) else !r.isNullAt(1) && word == r.getUTF8String(1))
      if (same) n += r.getLong(2) else pending = r
    }
    KmerPartitionCounter.write(writer, code, word, n)
  }
}

/** The dense table's count blocks. For `partitions` reduce partitions
  * the `4^k` codes split into blocks of `B = ceil(4^k / partitions)`
  * codes: block b covers codes `[b·B, min((b+1)·B, 4^k))`, so there are
  * at most `partitions` blocks (fewer when `4^k < partitions`: one code
  * each). A block travels as the BINARY of its `int` counts, in the
  * platform's byte order, as `UnsafeRow`'s own fields do.
  */
private[kmer] object KmerBlocks {

  /** Codes a block holds: `ceil(4^k / partitions)`. */
  def size(k: Int, partitions: Int): Int = {
    val codes = 1L << (2 * k)
    ((codes + partitions - 1) / partitions).toInt
  }

  /** Block `(part, null, 0, counts[from, until))` into `writer`'s reused
    * 4-field row; `scratch` holds at least `4·(until - from)` bytes.
    */
  def write(writer: UnsafeRowWriter, part: Int, counts: Array[Int], from: Int, until: Int,
            scratch: Array[Byte]): InternalRow = {
    val bytes = 4 * (until - from)
    Platform.copyMemory(counts, Platform.INT_ARRAY_OFFSET + 4L * from, scratch, Platform.BYTE_ARRAY_OFFSET, bytes)
    writer.reset()
    writer.zeroOutNullBytes()
    writer.write(0, part)
    writer.setNullAt(1)
    writer.write(2, 0L)
    writer.write(3, scratch, 0, bytes)
    writer.getRow
  }

  /** String window `(hash of its bytes, word, n, null)` into `writer`'s
    * reused 4-field row.
    */
  def writeString(writer: UnsafeRowWriter, word: UTF8String, n: Long): InternalRow = {
    writer.reset()
    writer.zeroOutNullBytes()
    writer.write(0, word.hashCode)
    writer.write(1, word)
    writer.write(2, n)
    writer.setNullAt(3)
    writer.getRow
  }

  /** Adds a block's `int` counts to `total`, entry by entry, in `long`:
    * a code's total over many slices can pass `Int.MaxValue`. Returns the
    * block's length in codes.
    */
  def add(total: Array[Long], block: Array[Byte]): Int = {
    val len = block.length / 4
    var i = 0
    while (i < len) { total(i) += Platform.getInt(block, Platform.BYTE_ARRAY_OFFSET + 4L * i); i += 1 }
    len
  }

  /** The reduce kernel of [[KmerBlockSumExec]] over one partition's
    * [[KmerCount.blockRows]], sorted on (word, part).
    */
  def sum(rows: Iterator[InternalRow], k: Int, partitions: Int): Iterator[InternalRow] = {
    val in = rows.buffered
    val blockSize = KmerBlocks.size(k, partitions)
    def atBlock: Boolean = in.hasNext && in.head.isNullAt(1)
    val codes = new Iterator[InternalRow] {
      private[this] val writer = new UnsafeRowWriter(3)
      private[this] var total: Array[Long] = null
      private[this] var base = 0L
      private[this] var at = 0
      private[this] var len = 0

      override def hasNext: Boolean = {
        while (true) {
          while (at < len && total(at) == 0) at += 1
          if (at < len) return true
          if (!atBlock) return false
          // the next block id's rows, summed
          val b = in.head.getInt(0)
          if (total == null) total = new Array[Long](blockSize) else java.util.Arrays.fill(total, 0L)
          base = b.toLong * blockSize
          at = 0
          while (atBlock && in.head.getInt(0) == b) len = add(total, in.next().getBinary(3))
        }
        false
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        at += 1
        KmerPartitionCounter.write(writer, base + at - 1, null, total(at - 1))
      }
    }
    codes ++ new KmerRunSum(in, coded = false)
  }
}

/** Counts every width-k window of one partition's texts and yields the
  * counts as UnsafeRows (one reused row), flushing as it goes so its
  * memory stays bounded whatever the partition's size:
  *
  *  - an ACGT window with k <= [[KmerCodes.DenseMaxK]] adds one to an
  *    `int[4^k]` indexed by its code, emitted at the partition's end as
  *    one row per nonzero count block, a block for each of the
  *    `partitions` reduce partitions ([[KmerBlocks]]);
  *  - an ACGT window with DenseMaxK < k <= 32 appends its code to a
  *    `long[]` chunk that grows up to `chunkCapacity`; a full chunk, and
  *    the last one, is radix-sorted and run-length encoded
  *    ([[KmerPartitionCounter.sortRuns]]) and its runs emitted;
  *  - every other window (non-ACGT, from a multibyte row, or k > 32)
  *    is counted in a string map of at most `stringCapacity` keys,
  *    emitted and cleared when full and at the end.
  *
  * Rows are `(code, word, n)` above the dense regime and
  * [[KmerCount.blockRows]] in it. Each row's windows are classified by a
  * [[KmerWindowCursor]]. Slice `slice` of `slices` counts only windows
  * `[size·slice/slices, size·(slice+1)/slices)` of each row of `size`
  * windows; the slices of a partition together count each of its
  * windows once. A key may be emitted more than once (once per flush,
  * and once per slice); the reduce side sums them.
  */
private[kmer] final class KmerPartitionCounter(
    texts: Iterator[UTF8String],
    k: Int,
    chunkCapacity: Int = KmerPartitionCounter.ChunkCapacity,
    stringCapacity: Int = KmerPartitionCounter.StringCapacity,
    slice: Int = 0,
    slices: Int = 1,
    partitions: Int = 1) extends Iterator[InternalRow] {
  private[this] val dense = k <= KmerCodes.DenseMaxK

  private[this] var counts: Array[Int] = null
  private[this] var chunk: Array[Long] = null
  private[this] var scratch: Array[Long] = null
  private[this] var fill = 0
  private[this] val strings = new java.util.HashMap[UTF8String, Array[Long]]

  // the current row: windows [p, end) of this slice are still to count
  private[this] var cursor: KmerWindowCursor = null
  private[this] var p = 0
  private[this] var end = 0

  // pending output: chunk runs (codes in chunk, counts in scratch), then
  // string entries, then, after the last row, the dense table's blocks
  // from `blockAt` on
  private[this] var runAt = 0
  private[this] var runs = 0
  private[this] var stringOut: java.util.Iterator[java.util.Map.Entry[UTF8String, Array[Long]]] = null
  private[this] var blockAt = -1
  private[this] var done = false

  private[this] val blockSize = if (dense) KmerBlocks.size(k, partitions) else 0
  private[this] val writer = new UnsafeRowWriter(if (dense) 4 else 3)
  private[this] var blockBytes: Array[Byte] = null

  private def blockEnd(b: Int): Int = math.min(counts.length, (b + 1) * blockSize)

  override def hasNext: Boolean = {
    while (true) {
      if (runAt < runs) return true
      if (stringOut != null) {
        if (stringOut.hasNext) return true
        stringOut = null
        strings.clear()
      }
      if (blockAt >= 0) {
        while (blockAt * blockSize < counts.length && allZero(blockAt)) blockAt += 1
        if (blockAt * blockSize < counts.length) return true
        blockAt = -1
        counts = null
      }
      if (done) return false
      if (p < end) {
        scan()
        if (fill == chunkCapacity) flushChunk()
        if (strings.size >= stringCapacity) flushStrings()
      } else if (texts.hasNext) load(texts.next())
      else {
        done = true
        flushChunk()
        flushStrings()
        if (counts != null) blockAt = 0
      }
    }
    false
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    if (runAt < runs) {
      runAt += 1
      KmerPartitionCounter.write(writer, chunk(runAt - 1), null, scratch(runAt - 1))
    } else if (stringOut != null) {
      val e = stringOut.next()
      if (dense) KmerBlocks.writeString(writer, e.getKey, e.getValue()(0))
      else KmerPartitionCounter.write(writer, 0L, e.getKey, e.getValue()(0))
    } else {
      if (blockBytes == null) blockBytes = new Array[Byte](4 * blockSize)
      blockAt += 1
      val b = blockAt - 1
      KmerBlocks.write(writer, b, counts, b * blockSize, blockEnd(b), blockBytes)
    }
  }

  private def allZero(b: Int): Boolean = {
    var i = b * blockSize
    val until = blockEnd(b)
    while (i < until && counts(i) == 0) i += 1
    i == until
  }

  private def load(s: UTF8String): Unit = {
    cursor = new KmerWindowCursor(s, k)
    val size = cursor.size.toLong
    p = (size * slice / slices).toInt
    end = (size * (slice + 1) / slices).toInt
  }

  /** Counts the current row's windows from p on, until the slice's range
    * ends, the chunk is full or the string map is.
    */
  private def scan(): Unit =
    while (p < end && fill < chunkCapacity && strings.size < stringCapacity) {
      if (!cursor.packs(p)) addString(cursor.window(p))
      else if (dense) addDense(cursor.code.toInt)
      else addCode(cursor.code)
      p += 1
    }

  private def addDense(c: Int): Unit = {
    if (counts == null) counts = new Array[Int](1 << (2 * k))
    counts(c) += 1
  }

  private def addCode(c: Long): Unit = {
    if (chunk == null) chunk = new Array[Long](math.min(chunkCapacity, KmerPartitionCounter.FirstChunk))
    else if (fill == chunk.length) chunk = java.util.Arrays.copyOf(chunk, math.min(chunkCapacity, 2 * fill))
    chunk(fill) = c
    fill += 1
  }

  private def addString(w: UTF8String): Unit = {
    val n = strings.get(w)
    if (n != null) n(0) += 1 else strings.put(w.clone(), Array(1L))
  }

  private def flushChunk(): Unit =
    if (fill > 0) {
      if (scratch == null || scratch.length < fill) scratch = new Array[Long](chunk.length)
      runs = KmerPartitionCounter.sortRuns(chunk, scratch, fill, 2 * k)
      runAt = 0
      fill = 0
    }

  private def flushStrings(): Unit =
    if (!strings.isEmpty) stringOut = strings.entrySet().iterator()
}

private[kmer] object KmerPartitionCounter {

  /** Most codes one chunk holds (32 MB, plus as much radix scratch): a
    * constant, like [[KmerCodes.DenseMaxK]], not a setting. A chunk
    * starts at [[FirstChunk]] codes and doubles as it fills, so a small
    * partition allocates little.
    */
  val ChunkCapacity: Int = 1 << 22
  val FirstChunk: Int = 1 << 12

  /** Most distinct strings the string pre-count holds before it flushes. */
  val StringCapacity: Int = 1 << 16

  private val RadixBits = 11
  private val RadixMask = (1 << RadixBits) - 1

  /** Sorts `a[0, n)` by its low `bits` bits (LSD radix, 11 bits a digit,
    * `tmp` as scratch; every digit's histogram comes from one read pass,
    * and a digit on which all codes agree costs no pass), then
    * run-length encodes it: on return `a[0, m)` holds the m distinct
    * codes in ascending unsigned order and `tmp[0, m)` their counts.
    * `tmp` holds at least n longs.
    */
  def sortRuns(a: Array[Long], tmp: Array[Long], n: Int, bits: Int): Int = {
    val digits = (bits + RadixBits - 1) / RadixBits
    val offsets = new Array[Int](digits << RadixBits)
    var i = 0
    while (i < n) {
      val v = a(i)
      var d = 0
      while (d < digits) { offsets((d << RadixBits) + ((v >>> (d * RadixBits)) & RadixMask).toInt) += 1; d += 1 }
      i += 1
    }
    var src = a
    var dst = tmp
    var d = 0
    while (d < digits) {
      val base = d << RadixBits
      val shift = d * RadixBits
      if (n > 0 && offsets(base + ((src(0) >>> shift) & RadixMask).toInt) != n) {
        var sum = 0
        var b = base
        while (b < base + (1 << RadixBits)) { val c = offsets(b); offsets(b) = sum; sum += c; b += 1 }
        i = 0
        while (i < n) {
          val v = src(i)
          val b = base + ((v >>> shift) & RadixMask).toInt
          dst(offsets(b)) = v
          offsets(b) += 1
          i += 1
        }
        val t = src; src = dst; dst = t
      }
      d += 1
    }
    // runs: codes to a, counts to tmp; a slot is written only after every
    // element at or before it has been read
    var m = 0
    i = 0
    while (i < n) {
      val c = src(i)
      var j = i + 1
      while (j < n && src(j) == c) j += 1
      a(m) = c
      tmp(m) = j - i
      m += 1
      i = j
    }
    m
  }

  /** `(code, word, n)` into `writer`'s reused row. */
  def write(writer: UnsafeRowWriter, code: Long, word: UTF8String, n: Long): InternalRow = {
    writer.reset()
    writer.zeroOutNullBytes()
    writer.write(0, code)
    if (word == null) writer.setNullAt(1) else writer.write(1, word)
    writer.write(2, n)
    writer.getRow
  }
}
