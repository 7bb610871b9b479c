package graft.kmer

import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, HashPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType}
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
}

/** Plans [[KmerCount]] as the reference's Map → sort → segmented Reduce
  * (reference `src/CPU_Module/CPU.cpp:75-122`) inside Spark's plan:
  * [[KmerCountExec]] counts each partition → an exchange hash-partitioned
  * on (code, word) into `spark.sql.shuffle.partitions` partitions →
  * Spark's `SortExec` on (code, word), which [[KmerSumExec]] requires →
  * [[KmerSumExec]] sums equal neighbours. The exchange is a by-number
  * repartition (`REPARTITION_BY_NUM`), so AQE keeps every reduce task
  * instead of coalescing them.
  *
  * Injected by `GraftExtensions`; `GraftSession.adopt` adds it to a
  * session the engine did not build.
  */
object KmerCountStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KmerCount(text, k, output, child) =>
      val keys = output.take(2)
      val partial = KmerCountExec(text, k, output, planLater(child))
      val exchange = ShuffleExchangeExec(
        HashPartitioning(keys, SQLConf.get.defaultNumShufflePartitions), partial, REPARTITION_BY_NUM)
      KmerSumExec(exchange) :: Nil
    case _ => Nil
  }
}

/** The map side of [[KmerCount]]: one [[KmerPartitionCounter]] per
  * partition, so a partition emits each window it holds once per
  * counter flush, with its count.
  *
  * When the child has fewer partitions than the session has task slots
  * (`defaultParallelism`) and k > [[KmerCodes.DenseMaxK]], the map side
  * reads the union of `S = defaultParallelism / childPartitions` copies
  * of the child, so each child partition runs as S tasks: slice j (a
  * partition of copy j) re-reads its parent partition and counts windows
  * `[size·j/S, size·(j+1)/S)` of each row. Every window is counted by
  * exactly one slice, and the reduce side's sum stays exact. No shuffle
  * or stage is added. The dense regime keeps one task per partition,
  * because each slice would emit up to 4^k rows; a child with at least
  * as many partitions as slots gives S = 1, the unsliced plan.
  */
case class KmerCountExec(text: Expression, k: Int, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val bound = BindReferences.bindReference(text, child.output)
    val parent = child.execute()
    val parts = parent.getNumPartitions
    val slots = sparkContext.defaultParallelism
    val slices = if (k > KmerCodes.DenseMaxK && parts > 0 && parts < slots) slots / parts else 1
    // built directly: `SparkContext.union` would zip copies that share a
    // partitioner instead of concatenating them
    val input = if (slices == 1) parent else new UnionRDD(sparkContext, Seq.fill(slices)(parent))
    input.mapPartitionsWithIndex { (i, rows) =>
      val texts = rows.map(r => bound.eval(r).asInstanceOf[UTF8String]).filter(_ != null)
      new KmerPartitionCounter(texts, k, slice = i / parts, slices = slices).map { r => numOutputRows += 1; r }
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
    child.execute().mapPartitions { rows =>
      new Iterator[InternalRow] {
        private[this] val writer = new UnsafeRowWriter(3)
        private[this] var pending: InternalRow = if (rows.hasNext) rows.next() else null

        override def hasNext: Boolean = pending != null

        override def next(): InternalRow = {
          if (pending == null) throw new NoSuchElementException
          val code = pending.getLong(0)
          val word = if (pending.isNullAt(1)) null else pending.getUTF8String(1).clone()
          var n = pending.getLong(2)
          pending = null
          while (pending == null && rows.hasNext) {
            val r = rows.next()
            val same = r.getLong(0) == code &&
              (if (word == null) r.isNullAt(1) else !r.isNullAt(1) && word == r.getUTF8String(1))
            if (same) n += r.getLong(2) else pending = r
          }
          numOutputRows += 1
          KmerPartitionCounter.write(writer, code, word, n)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KmerSumExec = copy(child = newChild)
}

/** Counts every width-k window of one partition's texts and yields the
  * counts as `(code, word, n)` UnsafeRows (one reused row), flushing as
  * it goes so its memory stays bounded whatever the partition's size:
  *
  *  - an ACGT window with k <= [[KmerCodes.DenseMaxK]] adds one to an
  *    `int[4^k]` indexed by its code, emitted at the partition's end;
  *  - an ACGT window with DenseMaxK < k <= 32 appends its code to a
  *    `long[]` chunk that grows up to `chunkCapacity`; a full chunk, and
  *    the last one, is radix-sorted and run-length encoded
  *    ([[KmerPartitionCounter.sortRuns]]) and its runs emitted;
  *  - every other window (non-ACGT, from a multibyte row, or k > 32)
  *    is counted in a string map of at most `stringCapacity` keys,
  *    emitted and cleared when full and at the end.
  *
  * Each row's windows are classified by a [[KmerWindowCursor]]. Slice
  * `slice` of `slices` counts only windows `[size·slice/slices,
  * size·(slice+1)/slices)` of each row of `size` windows; the slices of
  * a partition together count each of its windows once. A key may be
  * emitted more than once (once per flush, and once per slice); the
  * reduce side sums them.
  */
private[kmer] final class KmerPartitionCounter(
    texts: Iterator[UTF8String],
    k: Int,
    chunkCapacity: Int = KmerPartitionCounter.ChunkCapacity,
    stringCapacity: Int = KmerPartitionCounter.StringCapacity,
    slice: Int = 0,
    slices: Int = 1) extends Iterator[InternalRow] {
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
  // string entries, then, after the last row, the dense table
  private[this] var runAt = 0
  private[this] var runs = 0
  private[this] var stringOut: java.util.Iterator[java.util.Map.Entry[UTF8String, Array[Long]]] = null
  private[this] var denseAt = -1
  private[this] var done = false

  private[this] val writer = new UnsafeRowWriter(3)

  override def hasNext: Boolean = {
    while (true) {
      if (runAt < runs) return true
      if (stringOut != null) {
        if (stringOut.hasNext) return true
        stringOut = null
        strings.clear()
      }
      if (denseAt >= 0) {
        while (denseAt < counts.length && counts(denseAt) == 0) denseAt += 1
        if (denseAt < counts.length) return true
        denseAt = -1
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
        if (counts != null) denseAt = 0
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
      KmerPartitionCounter.write(writer, 0L, e.getKey, e.getValue()(0))
    } else {
      denseAt += 1
      KmerPartitionCounter.write(writer, denseAt - 1, null, counts(denseAt - 1))
    }
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
