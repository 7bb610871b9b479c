package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark

/** [[NgramHashGenerator]] must be an exact drop-in for the
  * explode-joined-gram-strings formulation it replaces: same windows,
  * same per-gram counts, same joined-string character lengths — only
  * the gram's identity is a rolling 64-bit hash instead of the string.
  * The properties below compare both formulations' (doc, n) aggregates
  * on corpora chosen to stress the edges: duplicate tokens (hash
  * grouping must merge exactly the windows the string grouping
  * merges), multibyte tokens (glen counts CHARS), docs shorter than n
  * (no row), and empty token arrays.
  */
class NgramHashGeneratorSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a b a"),                       // heavy window repeats
    (2L, "the the the the"),                 // one token repeated
    (3L, "naïve café über naïve café über"), // multibyte chars
    (4L, "one two"),                         // shorter than most n
    (5L, "solo"),                            // shorter than every n
    (6L, "x y z w v u t s r q p o"),         // all distinct
  ).toDF("doc_id", "text")

  /** The replaced formulation, kept here as the reference semantics. */
  private def viaStrings(ns: Seq[Int], corpus: org.apache.spark.sql.DataFrame = docs) = {
    val toksed = corpus
      .select(col("doc_id"), TextAnalysis.wsTokens(lower(col("text"))).as("__toks"))
      .select(col("doc_id"), explode(array(ns.map(lit): _*)).as("n"), col("__toks"))
      .where(org.apache.spark.sql.functions.size(col("__toks")) >= col("n"))
      .select(col("doc_id"), col("n"),
        explode(transform(
          sequence(lit(1), org.apache.spark.sql.functions.size(col("__toks")) - col("n") + 1),
          i => array_join(slice(col("__toks"), i, col("n")), " "))).as("gram"))
      .groupBy("doc_id", "n", "gram")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("glen", org.apache.spark.sql.functions.length(col("gram")).cast("long"))
    toksed.groupBy("doc_id", "n")
      .agg(
        count(lit(1)).as("n_distinct_grams"),
        sum(col("cnt")).as("n_windows"),
        sum(col("cnt") * col("glen")).as("char_mass"),
        max(col("cnt") * col("glen")).as("top_mass"),
        sum(col("cnt") * col("cnt")).as("cnt_sq")) // distinguishes count multisets
  }

  private def viaGenerator(ns: Seq[Int], corpus: org.apache.spark.sql.DataFrame = docs) = {
    corpus
      .select(col("doc_id"), TextAnalysis.wsTokens(lower(col("text"))).as("__toks"))
      .select(col("doc_id"), expr(s"ngram_hashes(__toks, ${ns.min}, ${ns.max})"))
      .groupBy("doc_id", "n", "gh")
      .agg(count(lit(1)).as("cnt"), max(col("glen")).as("glen"))
      .groupBy("doc_id", "n")
      .agg(
        count(lit(1)).as("n_distinct_grams"),
        sum(col("cnt")).as("n_windows"),
        sum(col("cnt") * col("glen")).as("char_mass"),
        max(col("cnt") * col("glen")).as("top_mass"),
        sum(col("cnt") * col("cnt")).as("cnt_sq"))
  }

  test("hash formulation reproduces the string formulation's per-(doc, n) aggregates") {
    val ns = 2 to 10
    val a = viaStrings(ns).orderBy("doc_id", "n").collect().map(_.toSeq)
    val b = viaGenerator(ns).orderBy("doc_id", "n").collect().map(_.toSeq)
    b should contain theSameElementsInOrderAs a
  }

  test("randomized corpus: 60 LCG-generated docs match the string formulation") {
    // Deterministic pseudo-random docs over a small vocabulary (forces
    // heavy window collisions) mixing ASCII, multibyte, and single-char
    // tokens, with lengths 0..24 — the regime where an off-by-one in
    // the prefix tables or block layout would misgroup windows.
    val vocab = Vector("a", "bb", "ccc", "Ω", "héllo", "x", "яя", "the", "of", "零一二")
    var seed = 0xDEADBEEFL
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    val rand = (1L to 60L).map { id =>
      val len = next(25)
      (id, Seq.fill(len)(vocab(next(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val ns = 2 to 10
    val a = viaStrings(ns, rand).orderBy("doc_id", "n").collect().map(_.toSeq)
    val b = viaGenerator(ns, rand).orderBy("doc_id", "n").collect().map(_.toSeq)
    a should not be empty
    b should contain theSameElementsInOrderAs a
  }

  test("single-n range and unigram edge") {
    val a = viaStrings(Seq(1)).orderBy("doc_id", "n").collect().map(_.toSeq)
    val b = viaGenerator(Seq(1)).orderBy("doc_id", "n").collect().map(_.toSeq)
    b should contain theSameElementsInOrderAs a
  }

  test("generator stays inside WholeStageCodegen (lazy collection, no fallback)") {
    val plan = docs
      .select(col("doc_id"), TextAnalysis.wsTokens(lower(col("text"))).as("__toks"))
      .select(col("doc_id"), expr("ngram_hashes(__toks, 2, 10)"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a node inside a WholeStageCodegen span
    plan should include regex """\*\(\d+\) Generate ngramhashgenerator"""
  }
}
