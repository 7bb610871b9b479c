package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark
import graft.TestSpark.{DifferentialPaths, withConf}

/** [[Bpe]] must reproduce the textbook single-machine BPE exactly:
  * the reference implementation below is the classic word-histogram
  * loop (count adjacent symbol pairs weighted by word frequency, take
  * the (cnt DESC, a, b) argmax, fuse greedily leftmost, repeat). The
  * distributed learner is differential-tested against it on corpora
  * chosen to stress the edges — repeated-char words where greedy
  * leftmost and rightmost diverge, merged symbols that chain into
  * later merges, tie-broken pair counts, and saturation (fewer pairs
  * than requested merges).
  */
class BpeSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** One greedy-leftmost merge pass over a symbol array: fuse every
    * non-overlapping (a, b) adjacency, scanning left to right (the
    * fold's accumulator ends with the merged symbol, so an `aaa` word
    * under merge (a,a) becomes [aa, a], not [a, aa]). Every replay site
    * ran chains of this fold until `bpe_merge_all` replaced them; here
    * it is the differential reference for that expression.
    */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(
          F.size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), F.size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Classic in-memory BPE over lowercased whitespace words: the
    * learned merges AND the final vocabulary (one reference for both
    * the learner and the tokenize-stats differential — two inline
    * copies of the merge semantics could drift).
    */
  private def referenceBpeFull(
      texts: Seq[String],
      numMerges: Int): (Seq[(Long, String, String, Long)], Map[Vector[String], Long]) = {
    val wc = mutable.Map.empty[String, Long]
    texts.foreach(_.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1))
    var vocab: Map[Vector[String], Long] =
      wc.map { case (w, c) => w.split("").toVector -> c }.toMap
    val out = mutable.ListBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val pc = mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          val k = (p(0), p(1)); pc(k) = pc.getOrElse(k, 0L) + c
        }
      }
      if (pc.isEmpty) done = true
      else {
        val ((a, b), cnt) =
          pc.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((step.toLong, a, b, cnt))
        vocab = vocab.toSeq.map { case (syms, c) =>
          val acc = mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (acc.nonEmpty && acc.last == a && s == b) acc(acc.size - 1) = a + b
            else acc += s
          }
          acc.toVector -> c
        }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        step += 1
      }
    }
    (out.toList, vocab)
  }

  private def referenceBpe(
      texts: Seq[String], numMerges: Int): Seq[(Long, String, String, Long)] =
    referenceBpeFull(texts, numMerges)._1

  private def learned(texts: Seq[String], n: Int): Seq[(Long, String, String, Long)] = {
    val df: DataFrame = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    Bpe.bpeLearnMerges(df, n).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
  }

  test("greedy leftmost: 'aaaa' under merge (a,a) yields [aa,aa], so step 2 merges aa+aa") {
    // If the fold merged rightmost (or allowed overlap), step 2's top
    // pair would differ — this pins the exact reference semantics.
    val m = learned(Seq("aaaa aaaa aaaa"), 2)
    m(0) shouldBe ((1L, "a", "a", 9L))   // 3 non-overlapping (a,a) per word... sliding pairs: [aa][aa] -> 3 pairs pre-merge, weighted by 3 words
    m(1) shouldBe ((2L, "aa", "aa", 3L)) // each word is now [aa, aa]
  }

  test("merged symbols chain into later merges") {
    val texts = Seq("abab abab", "ab cd", "abcd")
    learned(texts, 4) shouldBe referenceBpe(texts, 4)
  }

  test("tie-breaks are (cnt DESC, a, b) — lexicographic on equal counts") {
    val texts = Seq("xy zw", "xy zw") // (x,y) and (z,w) both count 2
    val m = learned(texts, 1)
    m.head shouldBe ((1L, "x", "y", 2L))
  }

  test("saturation: fewer possible merges than requested stops early") {
    val texts = Seq("ab ab ab")
    val m = learned(texts, 8)
    m shouldBe referenceBpe(texts, 8)
    m.size should be < 8
    // the final vocabulary is one symbol per word — nothing left to fuse
  }

  test("differential vs reference on the sf0.001 documents corpus") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val texts = docs.select("text").as[String].collect().toSeq
    val got = Bpe.bpeLearnMerges(docs, 6).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    got shouldBe referenceBpe(texts, 6)
  }

  test("batched learner: bit-identical merge table on the gate corpus") {
    // the r11 batching rule (rank-prefix, symbol-disjoint, count
    // strictly above every earlier pair's triple bound) must never
    // change a single (step, a, b, cnt) row vs the one-merge-per-round
    // learner (measured: 8 merges in 4 rounds on this corpus — but the
    // round count is corpus-dependent, so engagement is pinned on the
    // constructed corpus below, not asserted here)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val batched = Bpe.bpeLearnMerges(docs).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val sequential = Bpe.learnSequential(docs, Bpe.DefaultMerges)
    Bpe.lastLearnRounds shouldBe Bpe.DefaultMerges // sequential: 1 merge per round
    batched shouldBe sequential
  }

  test("batched learner: disjoint-margin pairs land in ONE round") {
    // three disjoint pairs, strictly separated counts, 2-char words so
    // no triples exist (every new-pair bound is 0): the batch rule
    // must accept all three in the first round
    val texts = (Seq.fill(100)("ab") ++ Seq.fill(90)("cd") ++ Seq.fill(80)("ef"))
      .mkString(" ")
    val df = Seq((1L, texts)).toDF("doc_id", "text")
    val got = Bpe.bpeLearnMerges(df, 3).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    got shouldBe Seq((1L, "a", "b", 100L), (2L, "c", "d", 90L), (3L, "e", "f", 80L))
    Bpe.lastLearnRounds shouldBe 1
  }

  test("batched learner: a shared symbol or an unsafe margin ends the batch") {
    // (a,b) count 100 and (b,c) count 90 share symbol b → (b,c) cannot
    // ride the same round; word 'abc' also creates triples so bounds
    // are non-zero — the sequential semantics must be preserved exactly
    val texts = (Seq.fill(50)("abc") ++ Seq.fill(50)("ab") ++ Seq.fill(40)("bc"))
      .mkString(" ")
    val df = Seq((1L, texts)).toDF("doc_id", "text")
    val got = Bpe.bpeLearnMerges(df, 2).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    got shouldBe referenceBpe(Seq(texts), 2)
    Bpe.lastLearnRounds shouldBe 2
  }

  test("tokenize stats: per-doc BPE token counts match the reference tokenizer") {
    val texts = Seq("abab abab cd", "ab ab ab", "x", "  ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val n = 3
    val got = Bpe.bpeTokenizeStats(df, n).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val (_, vocab) = referenceBpeFull(texts, n)
    val symlen = vocab.keys.map(k => k.mkString -> k.size.toLong).toMap
    val exp = texts.zipWithIndex.flatMap { case (t, i) =>
      val ws = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (ws.isEmpty) None
      else Some((i.toLong, ws.map(symlen).sum, ws.size.toLong))
    }
    got shouldBe exp
    // the empty doc (id 3) produced no row; doc "x" is 1 word, 1 symbol
    got.map(_._1) should not contain 3L
  }

  test("bpe_merge_all ≡ chained applyMerge folds on randomized symbol arrays (r20)") {
    val rnd = new scala.util.Random(67)
    val alphabet = Seq("a", "b", "c", "é")
    // random words + random merge tables, including chain-sensitive
    // shapes: (a,a) self-merges, merges whose product feeds a later
    // merge, repeated pairs — the greedy-leftmost accumulator semantics
    // must agree fold-for-fold
    val trials = (1 to 20).map { trial =>
      val merges = (1 to (1 + rnd.nextInt(6))).map { _ =>
        val a = alphabet(rnd.nextInt(alphabet.length))
        val b = alphabet(rnd.nextInt(alphabet.length))
        (a, b)
      } ++ (if (trial % 2 == 0) Seq(("a", "a"), ("aa", "a")) else Seq.empty)
      val words = (1 to 40).map(_ =>
        Array.fill(1 + rnd.nextInt(10))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      (trial, merges, words)
    }
    // Once per path, on RDD-backed frames: a projection over a local Seq
    // frame is folded into a LocalRelation by the optimizer, which always
    // interprets it, so the generated code would never run.
    for ((path, confs) <- DifferentialPaths; (trial, merges, words) <- trials) withClue(s"$path: ") {
      withConf(confs: _*) {
        val df = spark.sparkContext.parallelize(words, 2).toDF("w").select(split(col("w"), "").as("syms"))
        val oldCol = merges.foldLeft(col("syms")) { case (c0, (a, b)) =>
          applyMerge(c0, a, b)
        }
        val newCol = call_function("bpe_merge_all", col("syms"),
          typedlit(merges.map(_._1)), typedlit(merges.map(_._2)))
        df.select(col("syms"), oldCol.as("old"), newCol.as("new")).collect().foreach { r =>
          withClue(s"trial=$trial syms=${r.getSeq[String](0)} merges=$merges: ") {
            r.getSeq[String](2) shouldBe r.getSeq[String](1)
          }
        }
      }
    }
  }

  test("compression curve matches the reference learner at every merge prefix") {
    val texts = Seq(
      "low lower lowest low low", "newer newest new news",
      "wide wider widest wide", "er er er est est")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.bpeCompressionCurve(df, numMerges = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: learning k merges then sizing the vocab IS the step-k
    // point of the curve (merge sequences are prefix-stable)
    val exp = (0 to 6).map { k =>
      val vocab = referenceBpeFull(texts, k)._2
      k.toLong -> vocab.map { case (syms, c) => syms.size * c }.sum
    }.toMap
    got shouldBe exp
    // monotone: every merge can only shrink the corpus
    (0 until 6).foreach(k => got(k + 1L) should be <= got(k.toLong))
    got(0L) shouldBe texts.flatMap(_.split("\\s+")).map(_.length.toLong).sum
  }

  test("compression curve pads to numMerges+1 steps when the learner saturates early") {
    // ADVICE r16: corpus with ONE learnable merge ("ab" → saturation
    // after step 1) — the oracle unions steps 0..numMerges with v_k
    // untouched past saturation, so the engine must pad identically.
    val df = Seq(1L -> "ab ab ab").toDF("doc_id", "text")
    val rows = Bpe.bpeCompressionCurve(df, numMerges = 5).orderBy("step").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    rows.map(_._1) shouldBe (0L to 5L)
    rows.head._2 shouldBe 6L // 3 occurrences × 2 chars
    // steps 1..5 all hold the saturated size (one symbol per word)
    rows.tail.map(_._2).distinct shouldBe Seq(3L)
  }

  test("pair counts match a brute-force occurrence count") {
    val texts = Seq("hello world", "hello hello", "naïve café", "a")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.bpePairCounts(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = mutable.Map.empty[(String, String), Long]
    texts.flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty).foreach { w =>
      w.split("").toSeq.sliding(2).filter(_.size == 2)
        .foreach(p => exp((p(0), p(1))) = exp.getOrElse((p(0), p(1)), 0L) + 1)
    }
    // single-char words ("a") contribute no pair on either side — the
    // reference's sliding(2) filter drops them just as the engine's
    // length >= 2 guard does, so plain map equality covers that edge
    got shouldBe exp.toMap
  }
}
