package graft.kmer

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.expressions.DirectShufflePartitionID
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning, ShufflePartitionIdPassThrough}
import org.apache.spark.sql.execution.{SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.graftmetrics.TestScheduler
import graft.TestSpark
import graft.TestSpark.withConf

/** Pins the k-mer semantics the reference's verifier checks
  * (`/root/reference/scripts/verifier.py:22-36`,
  * `scripts/solutiongenerator.py:11-33`): sliding windows per row,
  * windows never cross rows (the '\0' file barrier), len<k yields
  * nothing, counts are exact.
  */
class KmersSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def counts(texts: Seq[String], k: Int): Map[String, Long] =
    Kmers.kmerCounts(texts.toDF("text"), "text", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("ABAB, k=2 -> AB:2, BA:1") {
    counts(Seq("ABAB"), 2) shouldBe Map("AB" -> 2L, "BA" -> 1L)
  }

  test("text shorter than k yields no windows") {
    counts(Seq("AB"), 3) shouldBe empty
  }

  test("empty text yields no windows") {
    counts(Seq(""), 1) shouldBe empty
  }

  test("k equal to text length yields exactly one window") {
    val s = "ACGT" * 16 // 64 chars — the reference's MAXK bound
    counts(Seq(s), 64) shouldBe Map(s -> 1L)
  }

  test("k bounds are enforced (reference MAXK=64)") {
    for (k <- Seq(0, 65)) {
      an[IllegalArgumentException] should be thrownBy
        Kmers.kmersGen(Seq("A").toDF("text"), "text", k)
      an[IllegalArgumentException] should be thrownBy
        Kmers.kmerCounts(Seq("A").toDF("text"), "text", k)
    }
  }

  test("windows never cross rows (file barrier)") {
    // concatenated "AB"+"BA" would produce a BB window; per-row must not
    counts(Seq("AB", "BA"), 2) shouldBe Map("AB" -> 1L, "BA" -> 1L)
  }

  test("thresholded keeps only counts > 1 (reference v>1 output filter)") {
    val out = Kmers.thresholded(Seq("ABAB").toDF("text"), "text", 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out shouldBe Map("AB" -> 2L)
  }

  test("totalWindows = sum of max(0, len-k+1)") {
    val df = Seq("ACGTA", "AC", "").toDF("text") // 3 + 0 + 0 windows at k=3
    Kmers.totalWindows(df, "text", 3).collect()(0).getLong(0) shouldBe 3L
  }

  test("KmerGenerator path produces exactly the explode-path windows") {
    val corpus = Seq("ABABCCA", "XY", "", "GATTACA")
    for (k <- Seq(1, 2, 3, 7)) {
      val viaGen = Kmers.kmersGen(corpus.toDF("text"), "text", k)
        .groupBy("word").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      viaGen shouldBe counts(corpus, k)
    }
  }

  test("KmerGenerator runs inside WholeStageCodegen (no interpreted boundary)") {
    // fallback=false makes a codegen compile error FAIL the query
    // instead of silently dropping to the interpreted path
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Kmers.kmersGen(Seq("GATTACA").toDF("text"), "text", 3)
      df.collect().map(_.getString(0)) should contain theSameElementsAs
        Seq("GAT", "ATT", "TTA", "TAC", "ACA")
      // AQE applies codegen collapse per stage — assert on the FINAL plan;
      // codegen'd operators carry the `*(n)` prefix
      df.queryExecution.executedPlan.toString should include regex """\*\(\d+\) Generate"""

      // the counting path: the KmerCount operators, with kmer_decode
      // codegen'd in the stage above them
      val counts = Kmers.kmerCounts(Seq("GATTACA", "GATTNCA").toDF("text"), "text", 3)
      counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe Map(
        "GAT" -> 2L, "ATT" -> 2L, "TTA" -> 1L, "TAC" -> 1L, "ACA" -> 1L,
        "TTN" -> 1L, "TNC" -> 1L, "NCA" -> 1L)
      val plan = counts.queryExecution.executedPlan
      aqe.collect(plan) { case e: KmerCountExec => e } should have size 1
      aqe.collect(plan) { case e: KmerBlockSumExec => e } should have size 1
      val stages = aqe.collect(plan) { case w: WholeStageCodegenExec => w }
      stages.exists(_.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[KmerDecode])))) shouldBe true
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  private val aqe = new AdaptiveSparkPlanHelper {}

  private def decodes(p: LogicalPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[KmerDecode]))

  test("kmer_decode runs only above the aggregate, after thresholded's count filter") {
    val df = Kmers.thresholded(Seq("ACGTACGTNACGT", "acgtACGT").toDF("text"), "text", 4)
    val plan = df.queryExecution.optimizedPlan
    val count = plan.collectFirst { case c: KmerCount => c }.get
    count.exists(decodes) shouldBe false
    // the decode's projection reads the count filter's output, which reads the count
    val proj = plan.collectFirst { case p: Project if decodes(p) => p }.get
    proj.child should matchPattern { case Filter(_, _: KmerCount) => }
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe Map("ACGT" -> 4L)
  }

  test("the counting plan: partition counter, by-number exchange, sort, segmented sum") {
    val texts = Seq("ACGTACGTNACGT", "acgtACGT", "GATTACA", "ACGTACGTACGTACGT")
    val df = Kmers.thresholded(texts.toDF("text"), "text", 11)
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe naive(texts, 11).filter(_._2 > 1)
    val plan = df.queryExecution.executedPlan
    aqe.collect(plan) { case a: HashAggregateExec => a } shouldBe empty
    val exchanges = aqe.collect(plan) { case e: ShuffleExchangeExec => e }
    exchanges.map(_.outputPartitioning).collect { case r: RoundRobinPartitioning => r } shouldBe empty
    // one exchange, by number and on (code, word), so AQE reads every reduce partition as is
    val Seq(exchange) = exchanges
    exchange.shuffleOrigin shouldBe REPARTITION_BY_NUM
    exchange.child shouldBe a[KmerCountExec]
    val HashPartitioning(keys, n) = exchange.outputPartitioning
    keys.map(_.sql) shouldBe Seq("code", "word")
    n shouldBe spark.conf.get("spark.sql.shuffle.partitions").toInt
    aqe.collect(plan) { case r: AQEShuffleReadExec => r } shouldBe empty
    val Seq(sum) = aqe.collect(plan) { case s: KmerSumExec => s }
    sum.child.exists(_.isInstanceOf[SortExec]) shouldBe true
  }

  test("the dense counting plan: partition counter, partition-id exchange, sort, block sum") {
    val texts = Seq("ACGTACGTNACGT", "acgtACGT", "GATTACA")
    val df = Kmers.thresholded(texts.toDF("text"), "text", 3)
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe naive(texts, 3).filter(_._2 > 1)
    val plan = df.queryExecution.executedPlan
    aqe.collect(plan) { case a: HashAggregateExec => a } shouldBe empty
    // one exchange, by number: block b to partition b, a string to its hash's
    val Seq(exchange) = aqe.collect(plan) { case e: ShuffleExchangeExec => e }
    exchange.shuffleOrigin shouldBe REPARTITION_BY_NUM
    exchange.child shouldBe a[KmerCountExec]
    val ShufflePartitionIdPassThrough(DirectShufflePartitionID(part), n) = exchange.outputPartitioning
    part.sql shouldBe "part"
    n shouldBe spark.conf.get("spark.sql.shuffle.partitions").toInt
    aqe.collect(plan) { case r: AQEShuffleReadExec => r } shouldBe empty
    aqe.collect(plan) { case s: KmerSumExec => s } shouldBe empty
    val Seq(sum) = aqe.collect(plan) { case s: KmerBlockSumExec => s }
    sum.child.exists(_.isInstanceOf[SortExec]) shouldBe true
  }

  test("the dense regime sends count block b, from every slice, to reduce partition b alone") {
    val slots = spark.sparkContext.defaultParallelism
    val rnd = new scala.util.Random(19)
    val texts = Seq.fill(3)(Seq.fill(2000)("ACGT".charAt(rnd.nextInt(4))).mkString) :+ "ACGTNACGTé" * 8
    for (n <- Seq(1, 3, 4, 7)) withClue(s"N=$n: ") {
      withConf("spark.sql.shuffle.partitions" -> n.toString) {
        val df = Kmers.kmerCounts(spark.sparkContext.parallelize(texts, 1).toDF("text"), "text", 5)
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe naive(texts, 5)
        val Seq(exchange) = aqe.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
        val blocks = exchange.execute()
          .mapPartitionsWithIndex((i, rows) => rows.filter(_.isNullAt(1)).map(r => i -> r.getInt(0)))
          .collect()
        // each reduce task gets exactly one block id, its own, once from each of the slots slices
        blocks.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap shouldBe (0 until n).map(i => i -> Set(i)).toMap
        blocks.length shouldBe slots * n
      }
    }
  }

  test("a block sum adds entries near Int.MaxValue exactly, in Long") {
    def block(counts: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * counts.length).order(java.nio.ByteOrder.nativeOrder())
      counts.foreach(b.putInt)
      b.array()
    }
    val total = new Array[Long](3)
    KmerBlocks.add(total, block(Int.MaxValue, Int.MaxValue - 1, 1)) shouldBe 3
    KmerBlocks.add(total, block(Int.MaxValue, 2, Int.MaxValue)) shouldBe 3
    total.toSeq shouldBe Seq(2L * Int.MaxValue, Int.MaxValue + 1L, Int.MaxValue + 1L)
  }

  private def naive(texts: Seq[String], k: Int): Map[String, Long] =
    texts.flatMap(_.sliding(k).filter(_.length == k)).groupBy(identity).view.mapValues(_.size.toLong).toMap

  /** The counter's rows over `texts` (slice `slice` of `slices`), each
    * key's counts summed, decoded.
    */
  private def counterTotals(texts: Seq[String], k: Int, chunk: Int, strings: Int,
                            slice: Int = 0, slices: Int = 1): (Int, Map[String, Long]) = {
    val rows = new KmerPartitionCounter(texts.iterator.map(UTF8String.fromString), k, chunk, strings, slice, slices)
      .map(CounterRows.decode(_, k, 1))
      .toVector
    (rows.size, rows.flatten.groupMapReduce(_._1)(_._2)(_ + _))
  }

  test("sortRuns radix-sorts and run-length encodes a chunk") {
    val rnd = new scala.util.Random(11)
    for (bits <- Seq(2, 22, 62, 64)) {
      val pool = Array.fill(300)(rnd.nextLong() & KmerCodes.mask(bits / 2))
      val codes = Array.fill(5000)(pool(rnd.nextInt(pool.length)))
      val a = codes.clone()
      val tmp = new Array[Long](a.length)
      val m = KmerPartitionCounter.sortRuns(a, tmp, a.length, bits)
      val expected = codes.groupBy(identity).view.mapValues(_.length.toLong).toSeq
        .sortWith((x, y) => java.lang.Long.compareUnsigned(x._1, y._1) < 0)
      a.take(m).toSeq.zip(tmp.take(m).toSeq) shouldBe expected
    }
  }

  test("the partition counter flushes a full chunk and a full string map, and its sums stay exact") {
    val rnd = new scala.util.Random(5)
    val dna = Seq.fill(3000)("ACGT".charAt(rnd.nextInt(4))).mkString
    val texts = Seq(dna, dna.take(1500) + "N" + dna.drop(1500) + "acgt", "ACGTé" + dna.take(40), "AC")
    for (k <- Seq(3, 11, 31, 32, 33)) withClue(s"k=$k: ") {
      val (_, unbounded) = counterTotals(texts, k, KmerPartitionCounter.ChunkCapacity, KmerPartitionCounter.StringCapacity)
      val (rows, flushed) = counterTotals(texts, k, 257, 7)
      unbounded shouldBe naive(texts, k)
      flushed shouldBe naive(texts, k)
      // a chunk of 257 codes cannot hold ~9k windows: some keys went out more than once
      if (k > KmerCodes.DenseMaxK) rows should be > flushed.size
    }
  }

  test("the counter's window-range slices together count every window once") {
    val rnd = new scala.util.Random(13)
    val dna = Seq.fill(3000)("ACGT".charAt(rnd.nextInt(4))).mkString
    for (k <- Seq(11, 31, 32, 33); slices <- Seq(1, 2, 3, 5, 8)) withClue(s"k=$k, S=$slices: ") {
      // a multibyte char at the row's first slice boundary, so windows of
      // two slices cover it
      val boundary = (dna.length - k + 1) / slices
      val texts = Seq(
        dna,
        dna.take(boundary) + "é" + dna.drop(boundary + 1),
        dna.take(1200) + "N" + dna.drop(1201) + "acgt",
        dna.take(k + 2), // 3 windows: fewer than most S
        dna.take(k - 1),
        "")
      val whole = naive(texts, k)
      // a chunk of 257 codes and a map of 7 strings flush inside each slice
      val parts = (0 until slices).map(j => counterTotals(texts, k, 257, 7, j, slices))
      parts.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _) shouldBe whole
      parts.head._1 should be > parts.head._2.size
    }
  }

  test("the map side runs a task per slot when the child leaves slots idle") {
    val slots = spark.sparkContext.defaultParallelism
    val rnd = new scala.util.Random(17)
    val texts = Seq.fill(3)(Seq.fill(500)("ACGT".charAt(rnd.nextInt(4))).mkString) :+ "ACGTNACGTé" * 8
    def mapTasks(parts: Int, k: Int): Int = TestScheduler.mapTasks(spark.sparkContext) {
      val df = Kmers.kmerCounts(spark.sparkContext.parallelize(texts, parts).toDF("text"), "text", k)
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe naive(texts, k)
    }
    slots should be > 1
    mapTasks(1, 31) shouldBe slots
    mapTasks(1, 11) shouldBe slots
    mapTasks(1, 8) shouldBe slots
    mapTasks(slots, 31) shouldBe slots
    mapTasks(slots + 1, 31) shouldBe slots + 1
    // several child partitions, each cut into slots / parts slices
    TestScheduler.withDefaultParallelism(spark.sparkContext, 8) {
      mapTasks(2, 31) shouldBe 8
      mapTasks(3, 31) shouldBe 6
      mapTasks(2, 8) shouldBe 8
    }
  }

  test("kmerCounts and thresholded keep the (word STRING NOT NULL, cnt BIGINT NOT NULL) schema") {
    val schema = StructType(Seq(
      StructField("word", StringType, nullable = false), StructField("cnt", LongType, nullable = false)))
    val df = Seq("ACGTN").toDF("text")
    Kmers.kmerCounts(df, "text", 2).schema shouldBe schema
    Kmers.thresholded(df, "text", 2).schema shouldBe schema
    Kmers.kmerCounts(df, "text", 40).schema shouldBe schema
  }

  test("a long DNA row's dense prefix count matches the string windows") {
    // 4^3 + 2 ACGT chars enter the dense count at k = 3; the N and the
    // lowercase tail go out one window at a time
    val rnd = new scala.util.Random(7)
    val dna = Seq.fill(200)("ACGT".charAt(rnd.nextInt(4))).mkString
    val corpus = Seq(dna, dna + "N" + dna.take(9) + "acg", "N" + dna, dna.take(66))
    for (k <- Seq(1, 3)) {
      counts(corpus, k) shouldBe corpus.flatMap(_.sliding(k).filter(_.length == k))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
  }

  test("kmer_decode restores a packed code's ACGT window") {
    spark.sql("SELECT kmer_decode(11L, 2), kmer_decode(-1L, 32), kmer_decode(0L, 1)").collect()(0).toSeq shouldBe
      Seq("GT", "T" * 32, "A")
  }

  // Argument checks: a bad call fails analysis with an error naming the
  // function, for every k-mer builder.
  private val kmerFns = Seq("kmer_windows", "kmer_decode")
  private def argCol(fn: String): String = if (fn == "kmer_decode") "code" else "text"

  private def analysisError(sql: String): AnalysisException = {
    Seq(("ACGT", 3L, 2)).toDF("text", "code", "k").createOrReplaceTempView("kmer_args")
    intercept[AnalysisException](spark.sql(sql).collect())
  }

  test("k-mer builders reject a non-foldable k with an analysis error naming the function") {
    for (fn <- kmerFns) {
      val e = analysisError(s"SELECT $fn(${argCol(fn)}, k) FROM kmer_args")
      e.errorClass shouldBe Some("NON_FOLDABLE_ARGUMENT")
      e.getMessage should include(s"`$fn`")
    }
  }

  test("k-mer builders reject a missing k with an analysis error naming the function") {
    for (fn <- kmerFns) {
      val e = analysisError(s"SELECT $fn(${argCol(fn)}) FROM kmer_args")
      e.errorClass shouldBe Some("WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
      e.getMessage should include(s"`$fn`")
    }
  }

  test("k-mer builders reject a non-integer k with an analysis error naming the function") {
    for (fn <- kmerFns; k <- Seq("'x'", "NULL", "1.5")) {
      val e = analysisError(s"SELECT $fn(${argCol(fn)}, $k) FROM kmer_args")
      e.errorClass shouldBe Some("UNEXPECTED_INPUT_TYPE")
      e.getMessage should include(s"`$fn`")
    }
  }

  test("the other literal-argument builders check their arity by name") {
    for (call <- Seq("ngram_hashes(text, 2)", "rolling_hashes(text)", "winnow_fingerprints(text, 3)",
                     "unigram_segment(text, text)", "common_run_len(text, 1, text, 1, 1)")) {
      val e = analysisError(s"SELECT $call FROM kmer_args")
      e.errorClass shouldBe Some("WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
      e.getMessage should include("`" + call.takeWhile(_ != '(') + "`")
    }
  }

  test("the builders without literal arguments check their arity by name") {
    val arities = Seq("dot_i64" -> 2, "dot_feats_w" -> 2, "lcs_len" -> 2, "bpe_merge_all" -> 3,
      "topk_pairs" -> 3, "ac_matches" -> 2, "wordpiece_pieces" -> 2, "nfc_normalize" -> 1,
      "char_entropy_q" -> 1, "bloom_filter_agg" -> 3, "might_contain" -> 2)
    for ((fn, n) <- arities; m <- Seq(n - 1, n + 1)) {
      val e = analysisError(s"SELECT $fn(${Seq.fill(m)("text").mkString(", ")}) FROM kmer_args")
      e.errorClass shouldBe Some("WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
      e.getMessage should include(s"`$fn`")
    }
  }

  test("the ASCII test finds a high-bit byte at every position of rows of 0 to 24 bytes") {
    for (len <- 0 to 24; at <- -1 until len) withClue(s"len=$len, at=$at: ") {
      val bytes = Array.fill[Byte](len)('A')
      if (at >= 0) bytes(at) = 0xa9.toByte
      KmerWindowsArrayData.isAscii(bytes) shouldBe at < 0
    }
  }

  test("a row's windows and their count do not depend on where its multibyte char sits") {
    // é is two high-bit bytes: at char `at` of a row of `len` chars it
    // covers every byte position of a 0-to-25-byte row once
    for (len <- 0 to 24; at <- -1 until len; k <- Seq(1, 3)) withClue(s"len=$len, at=$at, k=$k: ") {
      val ascii = "ACGTNacgtACGTNacgtACGTNac".take(len)
      val text = if (at < 0) ascii else ascii.updated(at, 'é')
      val s = UTF8String.fromString(text)
      val windows = new KmerWindowsArrayData(s, k)
      windows.ascii shouldBe (s.numChars == s.numBytes)
      windows.numElements() shouldBe math.max(0, len - k + 1)
      (0 until windows.numElements()).map(windows.getUTF8String(_).toString) shouldBe text.sliding(k).filter(_.length == k).toSeq
    }
  }

  test("KmerGenerator handles multibyte text (char windows, not byte windows)") {
    val viaGen = Kmers.kmersGen(Seq("héllò", "日本語です").toDF("text"), "text", 2)
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    viaGen shouldBe Map(
      "hé" -> 1L, "él" -> 1L, "ll" -> 1L, "lò" -> 1L,
      "日本" -> 1L, "本語" -> 1L, "語で" -> 1L, "です" -> 1L)
    viaGen shouldBe counts(Seq("héllò", "日本語です"), 2)
  }

  test("verifyJoin classifies match / mismatch / missing") {
    val l = Seq(("AB", 2L), ("BA", 1L)).toDF("word", "cnt")
    val r = Seq(("AB", 2L), ("CC", 5L)).toDF("word", "cnt")
    val st = Kmers.verifyJoin(l, r)
      .collect().map(row => row.getString(0) -> row.getString(3)).toMap
    st shouldBe Map("AB" -> "match", "BA" -> "missing_right", "CC" -> "missing_left")
  }
}
