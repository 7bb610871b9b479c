package graft.functions

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.{GraftFunctions, TestSpark}
import graft.TestSpark.{DifferentialPaths, withConf}

/** Every registered SQL function gives the same rows on the interpreted
  * and the generated path. Each function has a generator of argument
  * rows (nulls, empty strings and arrays, multi-byte UTF-8) and a query
  * over them; the query runs once per [[TestSpark.DifferentialPaths]]
  * entry and the two results must be identical.
  *
  * The argument rows are an RDD-backed frame: over a local `Seq` frame
  * the optimizer folds the projection into a LocalRelation, evaluated
  * on the driver, and the generated code would never run.
  */
object ConformanceProps extends Properties("Conformance") {

  // Each case runs two or three Spark jobs; keep the case count bounded.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark

  /** The argument rows of one function (`id` first) and the query that
    * calls it on the view `fn_args`.
    */
  private final case class Case(schema: StructType, row: Gen[Row], query: String)

  private def orNull[T](g: Gen[T]): Gen[T] = Gen.frequency(1 -> Gen.const(null.asInstanceOf[T]), 5 -> g)

  // one-, two-, three- and four-byte UTF-8; a decomposed é and the
  // Ångström sign, which NFC rewrites
  private val genChar: Gen[String] =
    Gen.oneOf("a", "b", "c", "A", "C", "G", "T", "\u00e9", "e\u0301", "\u212b", "日", "😀")
  private def genStr(maxChars: Int): Gen[String] =
    Gen.chooseNum(0, maxChars).flatMap(Gen.listOfN(_, genChar)).map(_.mkString)
  private val genText: Gen[String] = orNull(genStr(24))
  private val genWord: Gen[String] = orNull(genStr(8))
  private val genTokens: Gen[Seq[String]] = orNull(Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, genWord)))
  private val genLongs: Gen[Seq[Long]] =
    orNull(Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, Gen.chooseNum(-1000L, 1000L))))

  private def schema(cols: (String, DataType)*): StructType =
    StructType(StructField("id", LongType, nullable = false) +: cols.map { case (n, t) => StructField(n, t) })

  private val strArray = ArrayType(StringType, containsNull = true)
  private val feats = ArrayType(new StructType().add("b", LongType, nullable = false).add("c", LongType, nullable = false),
    containsNull = false)

  /** Rows of one text column `s`, for the string-in functions. */
  private def textCase(query: String): Case =
    Case(schema("s" -> StringType), genText.map(Row(0L, _)), query)

  /** (feats, w) with every bucket inside `w`. */
  private val genFeatsW: Gen[Row] = for {
    w <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, Gen.chooseNum(-50L, 50L)))
    fs <- if (w.isEmpty) Gen.const(Nil)
      else Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.chooseNum(0L, w.length - 1L), Gen.chooseNum(-9L, 9L)).map { case (b, c) => Row(b, c) }))
    nulls <- Gen.chooseNum(0, 5)
  } yield Row(0L, if (nulls == 0) null else fs, if (nulls == 1) null else w)

  /** (syms, as, bs) with merge tables of equal length. */
  private val genBpe: Gen[Row] = for {
    syms <- genTokens
    merges <- orNull(Gen.chooseNum(0, 5).flatMap(Gen.listOfN(_, Gen.zip(genWord, genWord))))
  } yield Row(0L, syms, Option(merges).map(_.map(_._1)).orNull, Option(merges).map(_.map(_._2)).orNull)

  /** (w, m): a word and a candidate map keyed pos * 8 + len, some
    * keys missing.
    */
  private val genSegment: Gen[Row] = for {
    w <- genWord
    n = Option(w).fold(0)(s => s.codePointCount(0, s.length))
    keys = for (pos <- 1 to n; len <- 1 to math.min(4, n - pos + 1)) yield pos * 8 + len
    m <- Gen.sequence[List[(Int, Long)], (Int, Long)](keys.map(k => Gen.chooseNum(-3000L, 0L).map(k -> _)))
    kept <- Gen.someOf(m)
    nullMap <- Gen.chooseNum(0, 6)
  } yield Row(0L, w, if (nullMap == 0) null else kept.toMap)

  /** (ta, pa, tb, pb, bound): anchors inside both strings. */
  private val genRun: Gen[Row] = for {
    core <- genStr(10)
    ta <- genStr(6).map(_ + core)
    tb <- genStr(6).map(_ + core)
    la = ta.codePointCount(0, ta.length)
    lb = tb.codePointCount(0, tb.length)
    pa <- Gen.chooseNum(1, math.max(1, la))
    pb <- Gen.chooseNum(1, math.max(1, lb))
    bound <- Gen.chooseNum(-1L, 12L)
    nulls <- Gen.chooseNum(0, 8)
  } yield Row(0L, if (nulls == 0 || la == 0) null else ta, if (nulls == 1) null else pa,
    if (nulls == 2 || lb == 0) null else tb, pb, if (nulls == 3) null else bound)

  private val genTopK: Gen[Row] =
    Gen.zip(Gen.chooseNum(0L, 2L), orNull(Gen.chooseNum(-5L, 5L)), Gen.chooseNum(0L, 20L))
      .map { case (g, s, v) => Row(0L, g, s, v) }

  private val genBloom: Gen[Row] = orNull(Gen.chooseNum(-100L, 100L)).map(Row(0L, _))

  /** One entry per name in [[GraftFunctions.names]]. */
  private val cases: Map[String, Case] = Map(
    "kmer_windows" -> textCase("SELECT id, kmer_windows(s, 2) FROM fn_args"),
    "kmer_decode" -> Case(schema("c" -> LongType), orNull(Gen.long).map(Row(0L, _)),
      "SELECT id, kmer_decode(c, 1), kmer_decode(c, 5), kmer_decode(c, 32), kmer_decode(c, 40) FROM fn_args"),
    "ngram_hashes" -> Case(schema("t" -> strArray), genTokens.map(Row(0L, _)),
      "SELECT id, ngram_hashes(t, 1, 3) FROM fn_args"),
    "rolling_hashes" -> textCase(
      """SELECT id, 1 AS mode, rolling_hashes(s, 3) FROM fn_args
        |UNION ALL SELECT id, 2 AS mode, rolling_hashes(s, 2, 2) FROM fn_args""".stripMargin),
    "winnow_fingerprints" -> textCase("SELECT id, winnow_fingerprints(s, 2, 3) FROM fn_args"),
    "ac_matches" -> textCase("SELECT id, ac_matches(s, 'a|ab|ba|é|日😀|GT') FROM fn_args"),
    "wordpiece_pieces" -> textCase("SELECT id, wordpiece_pieces(s, 'ab|a|b|abc|\u00e9|e\u0301|日😀') FROM fn_args"),
    "topk_pairs" -> Case(schema("g" -> LongType, "score" -> LongType, "v" -> LongType), genTopK,
      "SELECT g, topk_pairs(score, v, 2) FROM fn_args GROUP BY g"),
    "dot_i64" -> Case(schema("a" -> ArrayType(LongType, false), "b" -> ArrayType(LongType, false)),
      Gen.zip(genLongs, genLongs).map { case (a, b) => Row(0L, a, b) },
      "SELECT id, dot_i64(a, b) FROM fn_args"),
    "dot_feats_w" -> Case(schema("f" -> feats, "w" -> ArrayType(LongType, false)), genFeatsW,
      "SELECT id, dot_feats_w(f, w) FROM fn_args"),
    "lcs_len" -> Case(schema("a" -> strArray, "b" -> strArray),
      Gen.zip(genTokens, genTokens).map { case (a, b) => Row(0L, a, b) },
      "SELECT id, lcs_len(a, b) FROM fn_args"),
    "unigram_segment" -> Case(schema("w" -> StringType, "m" -> MapType(IntegerType, LongType, false)), genSegment,
      "SELECT id, unigram_segment(w, m, 4) FROM fn_args"),
    "common_run_len" -> Case(
      schema("ta" -> StringType, "pa" -> IntegerType, "tb" -> StringType, "pb" -> IntegerType, "bound" -> LongType),
      genRun,
      """SELECT id, common_run_len(ta, pa, tb, pb, bound, 1), common_run_len(ta, pa, tb, pb, bound, -1)
        |FROM fn_args""".stripMargin),
    "bpe_merge_all" -> Case(schema("s" -> strArray, "a" -> strArray, "b" -> strArray), genBpe,
      "SELECT id, bpe_merge_all(s, a, b) FROM fn_args"),
    "nfc_normalize" -> textCase("SELECT id, nfc_normalize(s) FROM fn_args"),
    "char_entropy_q" -> textCase("SELECT id, char_entropy_q(s) FROM fn_args"),
    "bloom_filter_agg" -> Case(schema("v" -> LongType), genBloom,
      "SELECT bloom_filter_agg(v, 100L, 1024L) FROM fn_args"),
    "might_contain" -> Case(schema("v" -> LongType), genBloom,
      """SELECT id, v, might_contain((SELECT bloom_filter_agg(v, 100L, 1024L) FROM fn_args WHERE id % 2 = 0), v)
        |FROM fn_args""".stripMargin),
  )

  /** `rows` (numbered from 0) as the view `fn_args`, RDD-backed. */
  private def register(c: Case, rows: Seq[Row]): Unit = {
    val numbered = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq.tail) }
    spark.createDataFrame(spark.sparkContext.parallelize(numbered, 2), c.schema).createOrReplaceTempView("fn_args")
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ", ", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)} -> ${render(x)}" }.sorted.mkString("{", ", ", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ", ", "]")
    case s: String => "\"" + s + "\""
    case x => x.toString
  }

  /** The query's rows on each path, rendered and sorted. */
  private def onBothPaths(query: String): Seq[Seq[String]] =
    DifferentialPaths.map { case (_, confs) =>
      withConf(confs: _*)(spark.sql(query).collect().map(render).toSeq.sorted)
    }

  property("every registered function has a case, and every case a registered function") = {
    val missing = GraftFunctions.names.toSet -- cases.keySet
    val unregistered = cases.keySet -- GraftFunctions.names.toSet
    (missing.isEmpty && unregistered.isEmpty) :| s"no case: $missing; not registered: $unregistered"
  }

  for ((name, c) <- cases.toSeq.sortBy(_._1))
    property(s"$name: the interpreted and generated paths give identical rows") =
      forAll(Gen.chooseNum(0, 10).flatMap(Gen.listOfN(_, c.row))) { rows =>
        register(c, rows)
        val Seq(interpreted, codegen) = onBothPaths(c.query)
        (interpreted == codegen) :| s"interpreted: $interpreted\ncodegen: $codegen"
      }

  /** The innermost cause's class and message of the failure of `query`
    * on each path (None where it did not fail).
    */
  private def failures(c: Case, rows: Seq[Row], query: String): Seq[Option[(String, String)]] = {
    register(c, rows)
    DifferentialPaths.map { case (_, confs) =>
      Try(withConf(confs: _*)(spark.sql(query).collect())) match {
        case Success(_) => None
        case Failure(e) =>
          val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
          Some(root.getClass.getName -> root.getMessage)
      }
    }
  }

  property("dot_feats_w: a bucket outside the weights fails alike on both paths") = {
    val got = failures(cases("dot_feats_w"), Seq(Row(0L, Seq(Row(0L, 1L), Row(3L, 2L)), Seq(5L, 6L, 7L))),
      "SELECT id, dot_feats_w(f, w) FROM fn_args")
    val expected = Some(classOf[ArrayIndexOutOfBoundsException].getName -> "dot_feats_w: bucket 3 out of range for 3 weights")
    got.forall(_ == expected) :| s"failures: $got"
  }

  property("bpe_merge_all: merge tables of different lengths fail alike on both paths") = {
    val got = failures(cases("bpe_merge_all"), Seq(Row(0L, Seq("a", "b"), Seq("a", "b"), Seq("b"))),
      "SELECT id, bpe_merge_all(s, a, b) FROM fn_args")
    val expected = Some(classOf[IllegalArgumentException].getName ->
      "requirement failed: bpe_merge_all: merge tables disagree (2 a's vs 1 b's)")
    got.forall(_ == expected) :| s"failures: $got"
  }
}
