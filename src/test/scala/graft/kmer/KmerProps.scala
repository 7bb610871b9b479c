package graft.kmer

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import graft.TestSpark
import graft.TestSpark.{DifferentialPaths, withConf}

/** ScalaCheck twin of the reference's golden-output verifier
  * (`/root/reference/scripts/verifier.py`): the engine must agree with a
  * naive in-driver sliding-window model on random corpora, and satisfy
  * the count invariant Σ cnt = Σ_rows max(0, len−k+1).
  */
object KmerProps extends Properties("Kmers") {

  // Each case runs two Spark jobs; keep the case count bounded.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = TestSpark.spark

  private val genText: Gen[String] =
    Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, Gen.oneOf('A', 'C', 'G', 'T')).map(_.mkString))
  private val genCorpus: Gen[List[String]] = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genText))
  private val genK: Gen[Int] = Gen.chooseNum(1, 8)

  property("matches naive sliding-window model and count invariant") =
    forAll(genCorpus, genK) { (texts, k) =>
      import spark.implicits._
      val engine = Kmers.kmerCounts(texts.toDF("text"), "text", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val naive = texts
        .flatMap(t => t.sliding(k).filter(_.length == k))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expectedTotal = texts.map(t => math.max(0, t.length - k + 1).toLong).sum
      engine == naive && engine.values.sum == expectedTotal
    }

  // Windows are CODE POINTS, not UTF-16 units or bytes: 1-, 2-, 3-, and
  // 4-byte UTF-8 sequences (the last is an astral char — a surrogate
  // PAIR in the JVM String) must each count as one window position.
  private val genCodePoint: Gen[String] =
    Gen.oneOf("a", "é", "λ", "日", new String(Character.toChars(0x1F600)))
  private val genUnicodeText: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, genCodePoint).map(_.mkString))

  private def cpWindows(s: String, k: Int): Seq[String] = {
    val cps = s.codePoints().toArray
    if (cps.length < k) Nil else (0 to cps.length - k).map(i => new String(cps, i, k))
  }

  property("multibyte text windows are code-point windows (generator path)") =
    forAll(Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, genUnicodeText)), Gen.chooseNum(1, 4)) {
      (texts, k) =>
        import spark.implicits._
        val engine = Kmers.kmerCounts(texts.toDF("text"), "text", k)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val naive = texts.flatMap(cpWindows(_, k))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        engine == naive
    }

  // Mixed alphabets for the packed-code path: ACGT windows pack, windows
  // with N, lowercase or multibyte chars stay strings. Long rows (at
  // least 4^k + k - 1 chars at k <= 8) enter the dense prefix count;
  // their non-ACGT chars sit at the row's start, middle or end, so the
  // leading ACGT run ends at byte 0, mid-row, near the end or not at all.
  private val mixedChars = Seq('A', 'C', 'G', 'T', 'N', 'a', 'é', '日')
  private val genMixedK: Gen[Int] = Gen.oneOf((1 to 8) ++ Seq(15, 16, 31, 32, 33))

  private def genShortMixed: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.oneOf(mixedChars)).map(_.mkString))

  private def genLongMixed(k: Int): Gen[String] = for {
    extra <- Gen.chooseNum(0, 16)
    len = (1 << (2 * k)) + k - 1 + extra
    seed <- Gen.long
    marks <- Gen.listOf(Gen.zip(Gen.oneOf("start", "middle", "end"), Gen.oneOf('N', 'a', 'é', '日')))
  } yield {
    val rnd = new scala.util.Random(seed)
    val cs = Array.fill(len)("ACGT".charAt(rnd.nextInt(4)))
    marks.take(3).foreach { case (where, c) =>
      val at = where match {
        case "start" => rnd.nextInt(3)
        // clamped: at k = 1 a row can be 4 chars long
        case "middle" => math.min(len - 1, len / 2 - 2 + rnd.nextInt(5))
        case _ => len - 1 - rnd.nextInt(3)
      }
      cs(at) = c
    }
    new String(cs)
  }

  private val genMixedCase: Gen[(List[String], Int)] = for {
    k <- genMixedK
    short <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, genShortMixed))
    long <- if (k <= 8) Gen.chooseNum(1, 2).flatMap(Gen.listOfN(_, genLongMixed(k))) else Gen.const(Nil)
  } yield (short ++ long, k)

  private def naiveCounts(texts: Seq[String], k: Int): Map[String, Long] =
    texts.flatMap(cpWindows(_, k)).groupBy(identity).view.mapValues(_.size.toLong).toMap

  private def engineCounts(texts: Seq[String], k: Int): Map[String, Long] = {
    import spark.implicits._
    Kmers.kmerCounts(texts.toDF("text"), "text", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  property("mixed-alphabet rows match the naive model and the count invariant") =
    forAll(genMixedCase) { case (texts, k) =>
      val engine = engineCounts(texts, k)
      val total = texts.map(t => math.max(0, t.codePointCount(0, t.length) - k + 1).toLong).sum
      engine == naiveCounts(texts, k) && engine.values.sum == total
    }

  /** The counts of [[Kmers.kmerCounts]] on an RDD-backed frame (a local
    * `Seq` frame's projection would be folded into a LocalRelation and
    * never run `kmer_decode`'s generated code).
    */
  private def rddCounts(texts: Seq[String], k: Int): Map[String, Long] = {
    import spark.implicits._
    Kmers.kmerCounts(spark.sparkContext.parallelize(texts, 2).toDF("text"), "text", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  property("kmer_decode agrees with the naive counts on the interpreted and codegen paths") =
    forAll(genMixedCase) { case (texts, k) =>
      val Seq(interpreted, codegen) = DifferentialPaths.map { case (_, confs) => withConf(confs: _*)(rddCounts(texts, k)) }
      val naive = naiveCounts(texts, k)
      interpreted == naive && codegen == naive
    }

  // The partition counter's three paths at every k that selects one: the
  // dense table (k <= 10), sorted chunks (11 <= k <= 32) and the string
  // pre-count (non-ACGT windows, multibyte rows, k > 32), on corpora
  // mixing them in one partition.
  private val counterKs = Seq(1, 3, 8, 10, 11, 31, 32, 33)

  private def genDna(maxLen: Int): Gen[String] =
    Gen.chooseNum(0, maxLen).flatMap(n => Gen.listOfN(n, Gen.oneOf('A', 'C', 'G', 'T')).map(_.mkString))

  private val genCounterCorpus: Gen[List[String]] = for {
    short <- Gen.chooseNum(0, 5).flatMap(Gen.listOfN(_, genShortMixed))
    unicode <- Gen.chooseNum(0, 3).flatMap(Gen.listOfN(_, genUnicodeText))
    dna <- Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, genDna(400)))
    mark <- Gen.oneOf("", "N", "a", "é", "日")
  } yield short ++ unicode ++ dna.map(d => d.take(d.length / 2) + mark + d.drop(d.length / 2))

  property("the k-mer count matches the sliding-window reference at k in {1, 3, 8, 10, 11, 31, 32, 33}") =
    forAll(genCounterCorpus) { texts =>
      counterKs.forall { k =>
        val engine = engineCounts(texts, k)
        val total = texts.map(t => math.max(0, t.codePointCount(0, t.length) - k + 1).toLong).sum
        engine == naiveCounts(texts, k) && engine.values.sum == total
      }
    }

  /** The rows slice `slice` of `slices` of one partition counter emits
    * over `texts`, decoded; a small chunk and string map make it flush
    * inside a slice.
    */
  private def sliceRows(texts: Seq[String], k: Int, slice: Int, slices: Int): Seq[(String, Long)] =
    counterRows(texts, k, slice, slices, 1).flatMap(CounterRows.decode(_, k, 1))

  private def counterRows(texts: Seq[String], k: Int, slice: Int, slices: Int, partitions: Int): Vector[InternalRow] =
    new KmerPartitionCounter(texts.iterator.map(UTF8String.fromString), k, 64, 8, slice, slices, partitions)
      .map(_.copy())
      .toVector

  property("the counter's window-range slices sum to the sliding-window counts at k in {11, 31, 32, 33}") =
    forAll(genCounterCorpus, Gen.chooseNum(1, 8)) { (texts, slices) =>
      Seq(11, 31, 32, 33).forall { k =>
        val sliced = (0 until slices).flatMap(sliceRows(texts, k, _, slices)).groupMapReduce(_._1)(_._2)(_ + _)
        sliced == naiveCounts(texts, k)
      }
    }

  // The dense regime at k in {1, 5, 8, 10}: S slices each cut their
  // table into count blocks for N reduce partitions. N = 3 and 7 divide
  // no 4^k, so the last block is short; at N = 200 and k = 1 a block is
  // one code.
  private val genDense: Gen[(List[String], Int, Int)] =
    Gen.zip(genCounterCorpus, Gen.chooseNum(1, 8), Gen.oneOf(1, 3, 4, 7, 200))

  /** One reduce partition's rows in [[KmerBlockSumExec]]'s child order:
    * count blocks first, by block id, then the string windows, equal
    * words together.
    */
  private val reduceOrder: Ordering[InternalRow] = (a, b) =>
    (a.isNullAt(1), b.isNullAt(1)) match {
      case (true, true) => Integer.compare(a.getInt(0), b.getInt(0))
      case (true, false) => -1
      case (false, true) => 1
      case _ => a.getUTF8String(1).compareTo(b.getUTF8String(1))
    }

  property("the dense regime's count blocks and string rows sum to the sliding-window counts") =
    forAll(genDense) { case (texts, slices, n) =>
      Seq(1, 5, 8, 10).forall { k =>
        val rows = (0 until slices).flatMap(counterRows(texts, k, _, slices, n))
        val naive = naiveCounts(texts, k)
        // summed as they leave the slices
        val sliced = rows.flatMap(CounterRows.decode(_, k, n)).groupMapReduce(_._1)(_._2)(_ + _)
        // and as the reduce side sums them, each row in partition pmod(part, n)
        val reduced = rows.groupBy(r => Math.floorMod(r.getInt(0), n)).values.flatMap { part =>
          KmerBlocks.sum(part.sorted(reduceOrder).iterator, k, n).map { r =>
            (if (r.isNullAt(1)) KmerCodes.decode(r.getLong(0), k).toString else r.getUTF8String(1).toString) ->
              r.getLong(2)
          }
        }.toSeq
        sliced == naive && reduced.toMap == naive && reduced.size == naive.size
      }
    }
}
