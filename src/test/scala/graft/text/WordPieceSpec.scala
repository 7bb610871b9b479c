package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark
import org.apache.spark.unsafe.types.UTF8String

class WordPieceSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Naive greedy longest-match over plain strings. */
  private def naive(word: String, vocab: Seq[String]): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var pos = 0
    while (pos < word.length) {
      val cands = vocab.zipWithIndex
        .filter { case (p, _) => word.regionMatches(pos, p, 0, p.length) }
      if (cands.isEmpty) { out += ((-1, pos + 1)); pos += 1 }
      else {
        val (p, pid) = cands.maxBy(_._1.length)
        out += ((pid, pos + 1)); pos += p.length
      }
    }
    out.toSeq
  }

  private def engine(word: String, vocab: Seq[String]): Seq[(Int, Int)] = {
    val rows = WordPiece.segmentRows(
      UTF8String.fromString(word), UTF8String.fromString(vocab.mkString("|")))
    (0 until rows.numElements()).map { i =>
      val r = rows.getStruct(i, 2); (r.getInt(0), r.getInt(1))
    }
  }

  test("greedy segmentation matches the naive scan (randomized tiny alphabet)") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 300) {
      val word = Array.fill(rnd.nextInt(25))(('a' + rnd.nextInt(3)).toChar).mkString
      val vocab = Iterator.continually(
        Array.fill(1 + rnd.nextInt(4))(('a' + rnd.nextInt(3)).toChar).mkString)
        .distinct.take(1 + rnd.nextInt(7)).toSeq
      withClue(s"trial=$trial word=$word vocab=${vocab.mkString("|")}: ") {
        engine(word, vocab) shouldBe naive(word, vocab)
      }
    }
  }

  test("longest match wins over shorter prefixes; ambiguity resolved greedily") {
    // 'table' must tokenize as [table], not [tab][le] or [t][a]...
    engine("table", WordPiece.Vocab) shouldBe Seq((0, 1))
    // 'tablet': greedy takes 'table' then 't' — never backtracks to
    // 'tab'+'le'+'t' even though both cover fully
    engine("tablet", WordPiece.Vocab) shouldBe
      Seq((0, 1), (WordPiece.Vocab.indexOf("t"), 6))
    // unknown chars advance one at a time as UNK
    engine("xyz", Seq("ab")) shouldBe Seq((-1, 1), (-1, 2), (-1, 3))
  }

  test("a vocab piece that is a strict prefix dead-end still backtracks") {
    // at pos 0 the walk reaches 'ab' (no hit) then dies at 'x';
    // best accept seen is 'a' — must emit 'a', not UNK
    engine("abx", Seq("a", "abc")) shouldBe Seq((0, 1), (-1, 2), (-1, 3))
  }

  test("generator is codegen-consumed and the piece stream aggregates") {
    val df = Seq((1L, "table fast"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = WordPiece.stats(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    // 'table'→1 piece, 'fast'→1 piece, 0 unk, 2 distinct
    got shouldBe Array((1L, 2L, 0L, 2L), (2L, 0L, 0L, 0L)).sorted
  }
}
