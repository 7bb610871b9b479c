package graft.text

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark

/** [[Perceptron]] must reproduce the single-machine full-batch
  * perceptron (geometric step decay, margin ≤ 0 counted misclassified)
  * exactly: the reference below is the textbook loop over in-memory
  * (features, y) pairs. Differential-tested on corpora stressing the
  * edges — empty/whitespace-only docs (bias-only feature vectors),
  * repeated tokens (count features, not presence), labels exactly at
  * the length cut, and the all-misclassified first round — plus a
  * convergence check on the real harness table.
  */
class PerceptronSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def md5Bucket(w: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes("UTF-8"))
    val hex = d.take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % Perceptron.Buckets).toInt
  }

  /** In-memory reference: (per-round stats, final weights, confusion
    * cells keyed (y, pred) → (n_docs, sum_score)).
    */
  private def reference(
      docs: Seq[(Long, String, Long)], // (doc_id, text, n_chars)
      rounds: Int): (Seq[(Long, Long, Long, Long)], Map[(Long, Long), (Long, Long)]) = {
    val feat = docs.map { case (_, text, nChars) =>
      val cnt = mutable.Map.empty[Int, Long]
      text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .foreach(w => { val b = md5Bucket(w); cnt(b) = cnt.getOrElse(b, 0L) + 1L })
      cnt(Perceptron.Buckets) = Perceptron.BiasValue
      val y = if (nChars >= Perceptron.LabelCut) 1L else -1L
      (y, cnt.toMap)
    }
    val w = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    def score(c: Map[Int, Long]): Long = c.iterator.map { case (b, v) => w(b) * v }.sum
    val stats = mutable.ListBuffer.empty[(Long, Long, Long, Long)]
    for (r <- 1 to rounds) {
      val scale = 1L << (rounds - r)
      val miscl = feat.filter { case (y, c) => y * score(c) <= 0 }
      val g = mutable.Map.empty[Int, Long].withDefaultValue(0L)
      miscl.foreach { case (y, c) => c.foreach { case (b, v) => g(b) += y * v } }
      g.foreach { case (b, v) => w(b) += v * scale }
      stats += ((r.toLong, miscl.size.toLong,
        w.values.map(math.abs).sum, w.values.count(_ != 0).toLong))
    }
    val conf = mutable.Map.empty[(Long, Long), (Long, Long)]
    feat.foreach { case (y, c) =>
      val s = score(c)
      val k = (y, if (s > 0) 1L else -1L)
      val (n, ss) = conf.getOrElse(k, (0L, 0L))
      conf(k) = (n + 1, ss + s)
    }
    (stats.toList, conf.toMap)
  }

  private def toDocsDf(docs: Seq[(Long, String, Long)]) =
    docs.toDF("doc_id", "text", "n_chars")

  private val edgeDocs: Seq[(Long, String, Long)] = Seq(
    (0L, "alpha beta alpha alpha beta gamma", 400L),    // repeated tokens, long
    (1L, "alpha beta", 100L),                           // short
    (2L, "", 0L),                                       // empty: bias-only
    (3L, "   ", 310L),                                  // whitespace-only, above cut
    (4L, "gamma delta epsilon zeta", Perceptron.LabelCut), // exactly at cut → +1
    (5L, "alpha alpha alpha alpha alpha alpha alpha", 304L), // one below cut → −1
    (6L, "beta gamma delta beta gamma delta beta", 350L),
    (7L, "zeta", 10L),
  )

  test("dot_feats_w ≡ the HOF margin fold; out-of-range bucket fails loud like ANSI element_at (r19)") {
    import org.apache.spark.sql.functions.{aggregate => hofAgg, call_function, col => c, element_at, lit => l, typedlit}
    val rnd = new scala.util.Random(191)
    val w = Array.fill(Perceptron.Buckets + 1)(rnd.nextLong() % 1000L)
    val rows = (1 to 200).map { i =>
      val feats = Seq.fill(1 + rnd.nextInt(30))(
        (rnd.nextInt(Perceptron.Buckets + 1).toLong, (rnd.nextInt(9) + 1).toLong))
      (i.toLong, feats)
    }
    val wLit = typedlit(w)
    val df = rows.toDF("id", "feats")
      .selectExpr("id", "transform(feats, f -> named_struct('b', f._1, 'c', f._2)) AS feats")
    val got = df.select(c("id"), call_function("dot_feats_w", c("feats"), wLit).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the exact HOF fold this expression replaced
    val want = df.select(c("id"), hofAgg(c("feats"), l(0L),
        (acc, f) => acc + element_at(wLit, (f.getField("b") + l(1L)).cast("int")) * f.getField("c"))
        .as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe want
    // an out-of-range bucket means featurizer/model disagreement — it
    // must THROW (the old fold's ANSI element_at threw; a silent null
    // would flip `margin <= 0` rows into quietly-correct ones)
    val bad = Seq((999L, Seq((Perceptron.Buckets + 1L, 3L)))).toDF("id", "feats")
      .selectExpr("id", "transform(feats, f -> named_struct('b', f._1, 'c', f._2)) AS feats")
    intercept[Exception] {
      bad.select(call_function("dot_feats_w", c("feats"), wLit)).collect()
    }
  }

  test("learn trajectory matches the in-memory reference on edge-case docs") {
    val (refStats, _) = reference(edgeDocs, Perceptron.Rounds)
    val got = Perceptron.learnRounds(toDocsDf(edgeDocs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    got shouldBe refStats
  }

  test("confusion matrix matches the in-memory reference on edge-case docs") {
    val (_, refConf) = reference(edgeDocs, Perceptron.Rounds)
    val got = Perceptron.confusion(toDocsDf(edgeDocs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    got shouldBe refConf
  }

  test("reliability bins partition the corpus and order positives above negatives") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val bins = Perceptron.reliabilityBins(docs).orderBy("score_bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    bins.map(_._2).sum shouldBe docs.count() // partition: every doc in one bin
    bins.foreach { case (_, n, np, ppm, mn, mx) =>
      np should be <= n
      ppm shouldBe (1000000L * np) / n
      mn should be <= mx
    }
    // bins are monotone in score: each bin's min exceeds the previous max
    bins.sliding(2).foreach { case Array(a, b) => a._6 should be < b._5; case _ => }
    // a converged learner calibrates: mean pos rate over positive-score
    // bins far exceeds the negative-score bins
    def rate(f: ((Long, Long, Long, Long, Long, Long)) => Boolean) = {
      val s = bins.filter(f); s.map(_._3).sum.toDouble / s.map(_._2).sum.toDouble
    }
    rate(_._1 > 0) should be > rate(_._1 < 0) + 0.5
  }

  test("learner converges on the harness corpus (distills the length filter)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val stats = Perceptron.learn(docs)._1
    val n = docs.count()
    stats.head._2 shouldBe n // round 1: w=0, every margin is 0 → all misclassified
    // geometric decay converges: final train errors under 5% of docs
    stats.last._2.toDouble should be < n.toDouble * 0.05
  }

  test("PAVA blocks: hand-checked merges, exact rational violation tests") {
    // already monotone: untouched, one block per bin
    Perceptron.pavaBlocks(Seq((1L, 10L, 1L), (2L, 10L, 5L), (3L, 10L, 9L))) shouldBe
      Seq((1L, 1L, 10L, 1L), (2L, 2L, 10L, 5L), (3L, 3L, 10L, 9L))
    // single violation: bins 1 (4/10) and 2 (2/10) pool to 6/20
    Perceptron.pavaBlocks(Seq((1L, 10L, 4L), (2L, 10L, 2L), (3L, 10L, 9L))) shouldBe
      Seq((1L, 2L, 20L, 6L), (3L, 3L, 10L, 9L))
    // cascade: pooling (2,3) to 5/20 NOW violates bin 1 (3/10) -> all pool
    Perceptron.pavaBlocks(Seq((1L, 10L, 3L), (2L, 10L, 4L), (3L, 10L, 1L))) shouldBe
      Seq((1L, 3L, 30L, 8L))
    // equal rates do NOT merge (strict > violation — ties stay split)
    Perceptron.pavaBlocks(Seq((1L, 10L, 5L), (2L, 20L, 10L))) shouldBe
      Seq((1L, 1L, 10L, 5L), (2L, 2L, 20L, 10L))
    // exactness: rates whose DOUBLE projections tie but whose exact
    // rationals differ by 1 ulp-scale must still merge correctly
    val big = 3037000499L // ~2^31.5: products stress the wide lane
    Perceptron.pavaBlocks(Seq((1L, big, big - 1L), (2L, big, big - 2L))).length shouldBe 1
  }

  test("isotonic calibration: monotone fit, partition preserved, raw kept where already monotone") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Perceptron.isotonicCalibration(docs).orderBy("score_bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    out should not be empty
    // same bin partition as the reliability table
    val bins = Perceptron.reliabilityBins(docs).orderBy("score_bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.map(t => (t._1, t._2, t._3)).toSeq shouldBe bins.toSeq
    // iso_ppm is monotone non-decreasing in score_bin
    out.sliding(2).foreach { case Array(a, b) => a._5 should be <= b._5; case _ => }
    // within a block all bins share the pooled rate; single-bin blocks keep raw
    out.groupBy(_._6).values.foreach { blk =>
      blk.map(_._5).distinct.length shouldBe 1
      if (blk.length == 1) blk.head._5 shouldBe blk.head._4
    }
  }

  test("quality-weighted sample: quotas ARE the calibration; changing it changes the kept set (r19)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val kept = Perceptron.qualityWeightedSample(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    kept should not be empty
    // exact quota accounting: per-bin kept counts equal the Hamilton
    // quotas recomputed here from the isotonic output (independent path)
    val iso = Perceptron.isotonicCalibration(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))) // (bin, n_docs, iso_ppm)
    val withP = iso.sortBy(_._1).map { case (b, n, p) => (b, BigInt(n) * p) }
    val total = (withP.map(_._2).sum / 1000000).toLong
    val base = withP.map { case (b, p) => (b, (p / 1000000).toLong, (p % 1000000).toLong) }
    val leftover = total - base.map(_._2).sum
    val quotas = base.sortBy { case (b, _, rem) => (-rem, b) }.zipWithIndex
      .map { case ((b, bs, _), i) => b -> (bs + (if (i < leftover) 1L else 0L)) }.toMap
    val keptPerBin = kept.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    keptPerBin.foreach { case (b, n) => n shouldBe quotas(b) }
    kept.length.toLong shouldBe total
    // higher-calibrated bins keep a (weakly) larger fraction — the
    // calibrated probability IS the per-bin keep rate up to quota
    // granularity: |kept_b/n_b − iso_ppm_b/1e6| < 1/n_b
    iso.foreach { case (b, n, ppm) =>
      val k = keptPerBin.getOrElse(b, 0L)
      (BigInt(k) * 1000000 - BigInt(n) * ppm).abs should be <= BigInt(1000000)
    }
    // CHANGING the calibration changes the kept set: rounds = 1 trains
    // different weights -> different margins/bins/quotas
    val keptOther = Perceptron.qualityWeightedSample(docs, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    keptOther.map(t => (t._1, t._2)).toSet should not equal kept.map(t => (t._1, t._2)).toSet
    // restart-reproducible: the pick is hash-ranked, not rand()-based
    Perceptron.qualityWeightedSample(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet shouldBe kept.toSet
  }
}
