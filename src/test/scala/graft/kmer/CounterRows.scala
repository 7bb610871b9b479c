package graft.kmer

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.catalyst.InternalRow

/** Reads the partition counter's rows back as (window, count) pairs, for
  * the specs that check the counter without Spark.
  */
object CounterRows {

  /** The windows one counter row counts: `(code, word, n)` above the
    * dense regime; in it, a string row's word, or a count block's
    * nonzero codes. The block size is worked out here from k and the
    * partition count, and every block's length checked against it.
    */
  def decode(r: InternalRow, k: Int, partitions: Int): Seq[(String, Long)] =
    if (k > KmerCodes.DenseMaxK) {
      val word = if (r.isNullAt(1)) KmerCodes.decode(r.getLong(0), k).toString else r.getUTF8String(1).toString
      Seq(word -> r.getLong(2))
    } else if (!r.isNullAt(1)) Seq(r.getUTF8String(1).toString -> r.getLong(2))
    else {
      val codes = 1 << (2 * k)
      val size = (codes + partitions - 1) / partitions
      val b = r.getInt(0)
      val counts = ByteBuffer.wrap(r.getBinary(3)).order(ByteOrder.nativeOrder()).asIntBuffer()
      assert(counts.remaining == math.min(size, codes - b * size), s"block $b of $partitions holds ${counts.remaining} codes")
      (0 until counts.remaining).collect {
        case i if counts.get(i) != 0 => KmerCodes.decode(b.toLong * size + i, k).toString -> counts.get(i).toLong
      }
    }
}
