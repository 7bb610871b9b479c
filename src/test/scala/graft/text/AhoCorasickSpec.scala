package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark
import org.apache.spark.unsafe.types.UTF8String

class AhoCorasickSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Naive reference: every (pattern, start) with a substring match. */
  private def naive(text: String, pats: Seq[String]): Seq[(Int, Int)] =
    for {
      (p, pid) <- pats.zipWithIndex
      start <- 0 to text.length - p.length
      if text.regionMatches(start, p, 0, p.length)
    } yield (pid, start + 1)

  private def ac(text: String, pats: Seq[String]): Seq[(Int, Int)] = {
    val rows = AhoCorasick.matchRows(
      UTF8String.fromString(text), UTF8String.fromString(pats.mkString("|")))
    (0 until rows.numElements()).map { i =>
      val r = rows.getStruct(i, 2)
      (r.getInt(0), r.getInt(1))
    }
  }

  test("matches the naive all-positions scan (randomized, tiny alphabet)") {
    val rnd = new scala.util.Random(3)
    for (trial <- 1 to 300) {
      val text = Array.fill(rnd.nextInt(60))(('a' + rnd.nextInt(3)).toChar).mkString
      // random overlapping dictionary incl. prefixes/suffixes of each other
      val pats = Iterator.continually(
        Array.fill(1 + rnd.nextInt(4))(('a' + rnd.nextInt(3)).toChar).mkString)
        .distinct.take(1 + rnd.nextInt(6)).toSeq
      withClue(s"trial=$trial text=$text pats=${pats.mkString("|")}: ") {
        ac(text, pats).sorted shouldBe naive(text, pats).sorted
      }
    }
  }

  test("nested dictionary patterns all report at the same end position") {
    // "aaa" contains a@1,2,3  aa@1,2  aaa@1
    ac("aaa", Seq("a", "aa", "aaa")).sorted shouldBe
      Seq((0, 1), (0, 2), (0, 3), (1, 1), (1, 2), (2, 1)).sorted
  }

  test("generator runs inside WholeStageCodegen and survives empty/null text") {
    val df = Seq((1L, "abab"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "ac_matches(text, 'ab|aba') AS (pid, pos)")
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted shouldBe
      Array((1L, 0, 1), (1L, 0, 3), (1L, 1, 1)).sorted
    val exec = df.queryExecution.executedPlan.toString
    // the `*(n)` stage prefix marks the Generate as codegen-consumed
    exec should include regex """\*\(\d+\) Generate ahocorasickgenerator"""
  }

  test("duplicate patterns are rejected; multibyte code points align") {
    an[Exception] should be thrownBy ac("x", Seq("ab", "ab"))
    // U+1F600 is one code point: positions count code points, not chars
    ac("😀ab", Seq("ab")) shouldBe Seq((0, 2))
  }
}
