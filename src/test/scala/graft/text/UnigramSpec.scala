package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark
import graft.TestSpark.withConf

/** Differential tests for the unigram-LM learner: a compact JVM
  * reference implements the SAME quantized algorithm (qlog2 fixed-point
  * scores, p = 1..MaxPiece strict-> Viterbi chain, char floor + seed
  * pruning) and the engine must match it row for row.
  */
class UnigramSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  // ---- JVM reference ----------------------------------------------------

  private def refWordCounts(docs: Seq[(Long, String)]): Map[String, Long] =
    docs.flatMap(_._2.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def refSubs(w: String): Seq[String] =
    for {
      pos <- 1 to w.length
      len <- 1 to math.min(Unigram.MaxPiece, w.length - pos + 1)
    } yield w.substring(pos - 1, pos - 1 + len)

  private def refScores(vocab: Map[String, Long]): Map[String, Long] = {
    val t = Unigram.qlog2Ref(vocab.values.sum)
    vocab.map { case (p, c) => p -> (Unigram.qlog2Ref(c) - t) }
  }

  /** Viterbi with the engine's exact tie rule: p evaluated 1..MaxPiece,
    * replace only on strictly greater.
    */
  private def refSegment(w: String, scores: Map[String, Long]): Seq[String] = {
    val best = Array.fill(w.length + 1)(0L)
    val bp = Array.fill(w.length + 1)(0)
    for (j <- 1 to w.length) {
      var bv = Long.MinValue
      var bpp = 0
      for (p <- 1 to math.min(Unigram.MaxPiece, j)) {
        scores.get(w.substring(j - p, j)) match {
          case Some(s) =>
            val v = best(j - p) + s
            if (bpp == 0 || v > bv) { bv = v; bpp = p }
          case None => ()
        }
      }
      best(j) = bv; bp(j) = bpp
    }
    var j = w.length
    val out = scala.collection.mutable.ListBuffer.empty[String]
    while (j > 0) { out += w.substring(j - bp(j), j); j -= bp(j) }
    out.toSeq // end-to-start, same as the engine's backwalk
  }

  private def refLearn(docs: Seq[(Long, String)]): Map[String, Long] = {
    val wc = refWordCounts(docs)
    val seed = wc.toSeq.flatMap { case (w, c) => refSubs(w).map(_ -> c) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val chars0 = seed.filter(_._1.length == 1)
    val multi0 = seed.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(Unigram.SeedMulti).toMap
    var vocab = chars0 ++ multi0
    for (_ <- 1 to Unigram.Rounds) {
      val sc = refScores(vocab)
      val counts = wc.toSeq
        .flatMap { case (w, c) => refSegment(w, sc).map(_ -> c) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      vocab =
        chars0.map { case (p, _) => p -> math.max(counts.getOrElse(p, 0L), 1L) } ++
          multi0.keys.flatMap(p => counts.get(p).filter(_ > 0).map(p -> _))
    }
    vocab
  }

  private def refTokenize(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
    val sc = refScores(refLearn(docs))
    val nPieces = refWordCounts(docs).keys
      .map(w => w -> refSegment(w, sc).size.toLong).toMap
    docs.map { case (id, t) =>
      val ws = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> (ws.map(nPieces).sum, ws.length.toLong)
    }.filter(_._2._2 > 0).toMap
  }

  // ---- tests --------------------------------------------------------------

  test("qlog2 SQL expression matches the JVM reference fold") {
    val df = (1L to 2000L).toDF("c")
    // the private SQL emitter is exercised through unigramLearn's qscore;
    // probe the identical expression inline here
    val q =
      """(CAST(length(bin(c)) - 1 AS BIGINT) * 256 +
        | aggregate(sequence(1, 8),
        |   ((c * CAST(1048576 AS BIGINT)) div shiftleft(CAST(1 AS BIGINT), length(bin(c)) - 1)) * 512,
        |   (a, i) -> CASE WHEN ((a div 512) * (a div 512)) div 1048576 >= 2097152
        |     THEN ((((a div 512) * (a div 512)) div 1048576) div 2) * 512 + (a % 512) * 2 + 1
        |     ELSE (((a div 512) * (a div 512)) div 1048576) * 512 + (a % 512) * 2 END
        | ) % 512) AS qlog2""".stripMargin
    val got = df.selectExpr("c", q).collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (c, v) => withClue(s"c=$c: ") { v shouldBe Unigram.qlog2Ref(c) } }
    // sanity: within 1 of floor(256*log2 c) and monotone
    got.foreach { case (c, v) =>
      v should be <= math.floor(256 * math.log(c.toDouble) / math.log(2)).toLong
      v should be >= math.floor(256 * math.log(c.toDouble) / math.log(2)).toLong - 1
    }
  }

  test("learned vocabulary matches the JVM reference (randomized corpora)") {
    val rnd = new scala.util.Random(19)
    val vocabWords = Array("spark", "scan", "table", "batch", "sparkly", "tab", "scans")
    for (trial <- 1 to 4) {
      val docs = (0L until 25L).map { id =>
        id -> Array.fill(3 + rnd.nextInt(10))(vocabWords(rnd.nextInt(vocabWords.length))).mkString(" ")
      }
      val got = Unigram.unigramLearn(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      withClue(s"trial=$trial: ") { got shouldBe refLearn(docs) }
    }
  }

  test("tokenize stats match the JVM reference") {
    val docs = Seq(
      (1L, "spark scan spark table"),
      (2L, "tab tab table scans batch"),
      (3L, "sparkly spark"),
      (4L, "   "))
    val got = Unigram.unigramTokenizeStats(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    got shouldBe refTokenize(docs)
  }

  test("unigram_segment ≡ the dpExpr+backwalk HOF folds, incl. missing-key null edges (r20)") {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    val rnd = new scala.util.Random(41)
    val alpha = "abc"
    // Randomized (w, m) rows: maps usually carry every (pos, len)
    // candidate (the learner's reachable domain — single chars always
    // present), but each trial also drops keys at random, INCLUDING
    // len-1 keys, to pin the fold's three-valued-logic edge: a missing
    // p=1 candidate nulls the running best and no longer piece may
    // replace it (backpointer stays 1).
    val rows = (1 to 300).map { t =>
      val L = 1 + rnd.nextInt(12)
      val w = Array.fill(L)(alpha(rnd.nextInt(alpha.length))).mkString
      val dropP = if (t % 3 == 0) 0.3 else 0.0 // every 3rd trial is adversarial
      val m = (for {
        pos <- 1 to L
        len <- 1 to math.min(Unigram.MaxPiece, L - pos + 1)
        if rnd.nextDouble() >= dropP
      } yield (pos * 8 + len) -> (rnd.nextInt(2000) - 1500).toLong).toMap
      (w, m)
    }
    // Once per path: the interpreted nullSafeEval and the generated
    // code both call UnigramSegment.run. The frames are RDD-backed
    // because a projection over a local Seq frame is folded into a
    // LocalRelation by the optimizer, which always interprets it.
    val paths = Seq(
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
                           "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    for ((path, confs) <- paths) withClue(s"$path: ") {
      withConf(confs: _*) {
        val df = spark.sparkContext.parallelize(rows, 2).toDF("w", "m")
        val got = df
          .withColumn("bp", org.apache.spark.sql.functions.expr(Unigram.dpExpr))
          .withColumn("pieces_old", org.apache.spark.sql.functions.expr(Unigram.backwalkExpr))
          .withColumn("pieces_new",
            call_function("unigram_segment", col("w"), col("m"), lit(Unigram.MaxPiece)))
          .select("w", "pieces_old", "pieces_new")
          .collect()
        got.foreach { r =>
          withClue(s"w=${r.getString(0)}: ") {
            r.getSeq[String](2) shouldBe r.getSeq[String](1)
          }
        }
        // empty word: the documented divergence — the fold would throw under
        // ANSI (backward sequence hits element_at(..., 0)); the codegen
        // expression returns an empty piece list
        val empty = spark.sparkContext.parallelize(Seq(("", Map.empty[Int, Long])), 1).toDF("w", "m")
          .select(call_function("unigram_segment", col("w"), col("m"), lit(Unigram.MaxPiece)))
          .collect()
        empty.head.getSeq[String](0) shouldBe Seq.empty
      }
    }
  }

  test("every word reconstructs from its learned pieces (coverage invariant)") {
    val docs = Seq((1L, "alpha beta alphabet beta"), (2L, "beta alpha"))
    val model = Unigram.unigramLearn(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // chars always present, counts >= 1, scores <= 0
    val pieces = model.map(_._1).toSet
    "alphbet".foreach(ch => pieces should contain(ch.toString))
    model.foreach { case (p, nc, cnt, qs) =>
      nc shouldBe p.length.toLong
      cnt should be >= 1L
      qs should be <= 0L
    }
  }
}
