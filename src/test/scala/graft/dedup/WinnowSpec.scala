package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark
import graft.TestSpark.{DifferentialPaths, withConf}
import graft.text.RollingHash

class WinnowSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  // ---- the fold pair common_run_len replaced ----------------------------

  /** Block width of the two-level extension scan. */
  private val ExtBlock = 16

  /** ta/tb char position of 1-based extension offset `o`, leftward from
    * the window start (dir < 0) or rightward from the window end.
    */
  private def extPos(side: Char, dir: Int, o: String): String =
    if (dir > 0) s"pos_$side + ${Winnow.K - 1} + ($o)" else s"pos_$side - ($o)"

  /** Two-level idle-out extension: the block fold compares
    * [[ExtBlock]]-char chunks (packed acc = 2·matchedBlocks + stopbit),
    * emitted as its own column so it evaluates ONCE; [[extRefine]]
    * then scans ≤ ExtBlock chars inside the first mismatching block.
    * `longestDupSubstrings` ran this pair until `common_run_len`
    * replaced it; here it is the differential reference for that
    * expression.
    */
  private def extBlocks(dir: Int, bound: String): String = {
    val bw = ExtBlock
    val len = s"least($bw, $bound - (j - 1) * $bw)"
    def block(side: Char) =
      if (dir > 0) s"substring(t$side, ${extPos(side, dir, s"(j - 1) * $bw + 1")}, $len)"
      else s"substring(t$side, ${extPos(side, dir, s"(j - 1) * $bw + $len")}, $len)"
    s"""IF($bound < 1, CAST(1 AS BIGINT),
       |  aggregate(sequence(1, ($bound + ${bw - 1}) div $bw), CAST(0 AS BIGINT),
       |    (acc, j) -> CASE WHEN acc % 2 = 1 THEN acc
       |      WHEN ${block('a')} <> ${block('b')} THEN acc + 1
       |      ELSE CAST(j AS BIGINT) * 2 END))""".stripMargin
  }

  /** Final extension length from the block-fold column `blkCol`: every
    * block matched (even acc) → the full bound; else matched blocks
    * plus a ≤ ExtBlock char-at-a-time refine inside the stopped block.
    */
  private def extRefine(dir: Int, bound: String, blkCol: String): String = {
    val bw = ExtBlock
    val base = s"(($blkCol div 2) * $bw)"
    s"""CASE WHEN $bound < 1 THEN CAST(0 AS BIGINT)
       |  WHEN $blkCol % 2 = 0 THEN CAST($bound AS BIGINT)
       |  ELSE $base + aggregate(
       |    sequence(1, least($bw, $bound - $base)), CAST(0 AS BIGINT),
       |    (acc, i) -> CASE WHEN acc % 2 = 1 THEN acc
       |      WHEN substring(ta, ${extPos('a', dir, s"$base + i")}, 1)
       |        <> substring(tb, ${extPos('b', dir, s"$base + i")}, 1) THEN acc + 1
       |      ELSE CAST(i AS BIGINT) * 2 END) div 2
       |END""".stripMargin
  }

  /** Reference winnow: enumerate every w-window, take its rightmost
    * minimum, union — the definition, O(n·w).
    */
  private def naiveWinnow(hs: Array[Long], w: Int): Seq[Int] = {
    if (hs.length < w) return Seq.empty
    (0 to hs.length - w).map { i =>
      val win = hs.slice(i, i + w)
      val m = win.min
      i + win.lastIndexWhere(_ == m)
    }.distinct.sorted
  }

  test("deque selection equals the every-window definition (randomized)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 200) {
      val n = rnd.nextInt(40)
      // small value domain to force ties (the rightmost rule must bite)
      val hs = Array.fill(n)(rnd.nextInt(5).toLong)
      for (w <- Seq(1, 2, 3, 4, 8)) {
        withClue(s"trial=$trial n=$n w=$w hs=${hs.mkString(",")}: ") {
          RollingHash.winnowSelect(hs, w).toSeq shouldBe naiveWinnow(hs, w)
        }
      }
    }
  }

  test("rolling window hashes equal the direct per-window fold") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 50) {
      val s = scala.util.Random.alphanumeric.take(rnd.nextInt(80)).mkString
      val cp = s.codePoints().toArray()
      for (k <- Seq(1, 3, 16)) {
        val rolled = RollingHash.windowHashes(cp, k)
        val direct = (0 to cp.length - k).map { p =>
          val h1 = cp.slice(p, p + k).foldLeft(0L)((h, c) => (h * RollingHash.B1 + c) % RollingHash.M1)
          val h2 = cp.slice(p, p + k).foldLeft(0L)((h, c) => (h * RollingHash.B2 + c) % RollingHash.M1)
          h1 * RollingHash.Combine + h2
        }
        rolled.toSeq shouldBe direct
      }
    }
  }

  test("winnowing guarantee: a shared span of k+w-1 chars always yields a shared fingerprint") {
    val rnd = new scala.util.Random(23)
    val span = scala.util.Random.alphanumeric.take(Winnow.K + Winnow.W - 1).mkString
    def noise(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq(
      (1L, noise(50) + span + noise(30)),
      (2L, noise(17) + span + noise(61)), // different alignment
    ).toDF("doc_id", "text")
    val byDoc = Winnow.fingerprints(docs)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    (byDoc(1L) intersect byDoc(2L)) should not be empty
  }

  test("density is near 2/(w+1) and stats are self-consistent") {
    val text = scala.util.Random.alphanumeric.take(4000).mkString
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = Winnow.fingerprintStats(docs).collect().head
    val nWindows = r.getAs[Long]("n_windows")
    val nSel = r.getAs[Long]("n_selected")
    nWindows shouldBe (4000 - Winnow.K + 1).toLong
    val density = nSel.toDouble / nWindows
    // E = 2/(w+1) = 0.2222 at w=8; generous band for one sample
    density should be > 0.15
    density should be < 0.30
    r.getAs[Long]("density_permille") shouldBe (1000 * nSel) / nWindows
  }

  test("docs shorter than k emit zero windows and zero fingerprints") {
    val docs = Seq((1L, "short"), (2L, "x" * (Winnow.K - 1))).toDF("doc_id", "text")
    val rows = Winnow.fingerprintStats(docs).collect()
    rows.foreach { r =>
      r.getAs[Long]("n_windows") shouldBe 0L
      r.getAs[Long]("n_selected") shouldBe 0L
      r.getAs[Long]("density_permille") shouldBe 0L
    }
  }

  test("verbatim near-dups pair; disjoint docs do not") {
    val rnd = new scala.util.Random(5)
    def noise(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val shared = noise(200)
    val docs = Seq(
      (1L, shared + noise(40)),
      (2L, noise(25) + shared),
      (3L, noise(240)),
    ).toDF("doc_id", "text")
    val pairs = Winnow.dupPairs(docs)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    pairs should contain((1L, 2L))
    pairs.foreach { case (a, b) => Set(a, b) should not contain 3L }
  }

  test("incremental index probe reproduces the batch pair relation exactly") {
    val rnd = new scala.util.Random(11)
    def noise(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val shared = noise(180)
    val boiler = noise(120)
    // cross-side dups (1↔2), intra-batch dups (3↔5), and a fingerprint
    // population where the batch's arrivals shift per-h doc counts
    val docs = Seq(
      (0L, shared + noise(30)),           // existing
      (1L, noise(20) + shared),           // batch: pairs with 0
      (2L, boiler + noise(50)),           // existing
      (3L, boiler + noise(45)),           // batch: pairs with 2 via boiler
      (4L, noise(200)),                   // existing, disjoint
      (5L, noise(15) + boiler + noise(10)), // batch: also pairs via boiler
    ).toDF("doc_id", "text")
    val batch = Winnow.dupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(identity).toSeq
    val index = Winnow.fingerprintIndex(docs.where($"doc_id" % 2 === 0))
      .localCheckpoint(true) // "precomputed": materialized before the probe
    val inc = Winnow.incrementalDupPairs(index, docs.where($"doc_id" % 2 =!= 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(identity).toSeq
    batch should not be empty
    inc shouldBe batch
  }

  /** Reference longest common substring, O(n·m) — the definition. */
  private def lcsLen(a: String, b: String): Int = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    var best = 0
    for (i <- 1 to a.length; j <- 1 to b.length)
      if (a(i - 1) == b(j - 1)) {
        dp(i)(j) = dp(i - 1)(j - 1) + 1
        best = math.max(best, dp(i)(j))
      }
    best
  }

  test("longest dup substring: exact length, positions, and text vs the O(nm) definition") {
    val rnd = new scala.util.Random(42)
    def noise(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val common = noise(120)
    // digit sentinels (never in the letter noise) pin the planted span
    // boundaries — no accidental extension past the span
    val docA = noise(40) + "0" + common + "1" + noise(30)
    val docB = noise(55) + "2" + common + "3" + noise(10)
    // second pair: TWO shared spans — the longer must win
    val span1 = noise(60); val span2 = noise(30)
    val docC = noise(20) + "0" + span1 + "1" + noise(25) + "0" + span2 + "1" + noise(10)
    val docD = noise(5) + "2" + span1 + "3" + noise(35) + "2" + span2 + "3" + noise(20)
    val docs = Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD)).toDF("doc_id", "text")
    val out = Winnow.longestDupSubstrings(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("match_len"), r.getAs[Long]("start_a"),
          r.getAs[Long]("start_b"), r.getAs[String]("dup_text"))).toMap
    out.keySet shouldBe Set((1L, 2L), (3L, 4L))
    // pair (1,2): the planted 120-char span, 1-based starts
    out((1L, 2L)) shouldBe ((120L, 42L, 57L, common))
    out((1L, 2L))._1.toInt shouldBe lcsLen(docA, docB)
    // pair (3,4): the 60-char span beats the 30-char one
    out((3L, 4L)) shouldBe ((60L, 22L, 7L, span1))
    out((3L, 4L))._1.toInt shouldBe lcsLen(docC, docD)
  }

  test("longest dup substring: randomized differential vs the O(nm) LCS on planted corpora") {
    val rnd = new scala.util.Random(1234)
    def noise(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    for (trial <- 1 to 8) {
      // 3 doc pairs per trial: each plants a shared span of 100..220
      // chars (long enough that MinShared fingerprints are certain) at
      // random offsets, digit-sentinel-wrapped against accidental
      // boundary extension; one extra pair shares nothing
      val planted = (0 until 3).map { i =>
        val span = noise(100 + rnd.nextInt(121))
        val a = noise(5 + rnd.nextInt(120)) + "0" + span + "1" + noise(5 + rnd.nextInt(120))
        val b = noise(5 + rnd.nextInt(120)) + "2" + span + "3" + noise(5 + rnd.nextInt(120))
        (2L * i, a, 2L * i + 1, b)
      }
      val rows = planted.flatMap { case (ia, a, ib, b) => Seq((ia, a), (ib, b)) } ++
        Seq((100L, noise(300)), (101L, noise(300)))
      val docs = rows.toDF("doc_id", "text")
      val out = Winnow.longestDupSubstrings(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getAs[Long]("match_len"), r.getAs[String]("dup_text"))).toMap
      val texts = rows.toMap
      withClue(s"trial $trial: ") {
        // every planted pair found, at the EXACT O(nm) LCS length
        planted.foreach { case (ia, a, ib, b) =>
          val (len, sub) = out((ia, ib))
          len.toInt shouldBe lcsLen(a, b)
          a should include(sub)
          b should include(sub)
          sub.length shouldBe len.toInt
        }
        // nothing invented: the emitted key set IS the planted pair set
        // (an id/2 cohort test would miss a false pairing of the two
        // noise docs 100/101, which share 100/2 == 101/2)
        out.keySet shouldBe planted.map { case (ia, _, ib, _) => (ia, ib) }.toSet
      }
    }
  }

  test("common_run_len ≡ the extBlocks+extRefine fold pair, both directions (r20)") {
    import org.apache.spark.sql.functions.{call_function, col, expr, lit}
    val rnd = new scala.util.Random(53)
    // Pairs sharing an aligned seed with random-length exact runs on
    // both sides (multi-byte chars included — the byte walk must step
    // code points, not bytes); bounds derived exactly as
    // longestDupSubstrings derives them from the window geometry.
    def noise(n: Int) = Array.fill(n)(
      if (rnd.nextInt(6) == 0) "é" else ('a' + rnd.nextInt(3)).toChar.toString).mkString
    val k = Winnow.K
    val rows = (1 to 120).map { _ =>
      val core = noise(k + rnd.nextInt(40))
      val ta = noise(rnd.nextInt(30)) + core + noise(rnd.nextInt(30))
      val tb = noise(rnd.nextInt(30)) + core + noise(rnd.nextInt(30))
      // anchor the seed at a random position of the shared core
      val posA = ta.indexOf(core) + 1 + rnd.nextInt(core.length - k + 1)
      val posB = tb.indexOf(core) + (posA - ta.indexOf(core))
      (ta, posA, tb, posB)
    }
    // Once per path, on RDD-backed frames: a projection over a local Seq
    // frame is folded into a LocalRelation by the optimizer, which always
    // interprets it, so the generated code would never run.
    for ((path, confs) <- DifferentialPaths) withClue(s"$path: ") {
      withConf(confs: _*) {
        val df = spark.sparkContext.parallelize(rows, 2).toDF("ta", "pos_a", "tb", "pos_b")
          .withColumn("la", org.apache.spark.sql.functions.length(col("ta")))
          .withColumn("lb", org.apache.spark.sql.functions.length(col("tb")))
          .withColumn("lmax", org.apache.spark.sql.functions.least(col("pos_a"), col("pos_b")) - 1)
          .withColumn("rmax",
            org.apache.spark.sql.functions.least(
              col("la") - col("pos_a"), col("lb") - col("pos_b")) - (k - 1))
          .withColumn("lblk", expr(extBlocks(-1, "lmax")))
          .withColumn("rblk", expr(extBlocks(+1, "rmax")))
          .withColumn("lext_old", expr(extRefine(-1, "lmax", "lblk")))
          .withColumn("rext_old", expr(extRefine(+1, "rmax", "rblk")))
          .withColumn("lext_new", call_function("common_run_len",
            col("ta"), col("pos_a"), col("tb"), col("pos_b"), col("lmax"), lit(-1)))
          .withColumn("rext_new", call_function("common_run_len",
            col("ta"), col("pos_a") + lit(k - 1), col("tb"), col("pos_b") + lit(k - 1),
            col("rmax"), lit(1)))
        df.select("ta", "pos_a", "lext_old", "lext_new", "rext_old", "rext_new")
          .collect().foreach { r =>
            withClue(s"ta=${r.getString(0)} pos_a=${r.getInt(1)}: ") {
              r.getLong(3) shouldBe r.getLong(2)
              r.getLong(5) shouldBe r.getLong(4)
            }
          }
      }
    }
  }

  test("longest dup substring: sub-guarantee matches are dropped, not misreported") {
    val rnd = new scala.util.Random(9)
    def noise(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // share a span just UNDER the guarantee (K + W - 2 = 22 chars):
    // winnowing cannot promise a seed, so the pair must simply be absent
    val short = noise(Winnow.GuaranteeLen - 1)
    val docs = Seq(
      (1L, noise(60) + short + noise(60)),
      (2L, noise(80) + short + noise(40)),
    ).toDF("doc_id", "text")
    require(lcsLen(docs.collect()(0).getString(1), docs.collect()(1).getString(1)) < Winnow.GuaranteeLen)
    Winnow.longestDupSubstrings(docs).collect() shouldBe empty
  }
}
