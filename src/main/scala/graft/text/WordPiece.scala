package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, CollectionGenerator, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Greedy longest-match-first subword tokenization — the WordPiece
  * inference rule (Wu et al. 2016; the tokenizer BERT ships): at each
  * position take the LONGEST vocabulary piece that matches, else emit
  * one UNK character and advance. Complements the engine's BPE family
  * ([[Bpe]] learns merges bottom-up; this applies a fixed vocabulary
  * top-down) — together they cover both halves of the subword
  * pipeline: train and apply.
  *
  * The matcher is a code-point trie walked once per position with
  * longest-accept backtracking — O(word · max_piece_len) worst case,
  * compiled once per executor and cached by vocabulary key (the
  * [[AhoCorasick]] deployment discipline). Inference runs entirely in
  * the map stage; only (piece, position) rows reach aggregation.
  *
  * The oracle replays the greedy rule declaratively: a recursive CTE
  * advances through each word by the max-length matching piece
  * (correlated scalar subquery), and piece identities are
  * reconstructed from consecutive positions via a lead window — a
  * structurally independent implementation of the same recurrence.
  */
object WordPiece {

  /** Overlap-heavy vocabulary over the harness corpus: shared
    * prefixes/suffixes force the longest-match rule to bite ("table"
    * must win over "tab"+"le", "scan" over "sc"+"an").
    */
  val Vocab: Seq[String] = Seq(
    "table", "tab", "t", "le", "scan", "sc", "an", "a", "fast", "fas",
    "slow", "low", "value", "val", "ue", "batch", "bat", "ch", "spark",
    "park", "row", "window", "win", "dow", "key", "e", "r", "o", "w")

  private[text] final class Trie(pieces: Array[Array[Int]]) extends Serializable {
    // nodes as sorted parallel child arrays (the ACAutomaton layout)
    private val childKeys = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    private val childVals = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    private val hit = scala.collection.mutable.ArrayBuffer(-1)

    private def childOf(n: Int, c: Int): Int = {
      val ks = childKeys(n)
      var lo = 0; var hi = ks.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (ks(mid) == c) return childVals(n)(mid)
        else if (ks(mid) < c) lo = mid + 1 else hi = mid - 1
      }
      -1
    }

    pieces.zipWithIndex.foreach { case (p, pid) =>
      var n = 0
      p.foreach { c =>
        val ch = childOf(n, c)
        n = if (ch >= 0) ch
        else {
          val id = childKeys.length
          childKeys += scala.collection.mutable.ArrayBuffer.empty[Int]
          childVals += scala.collection.mutable.ArrayBuffer.empty[Int]
          hit += -1
          val ks = childKeys(n); val vs = childVals(n)
          var i = ks.length
          ks += 0; vs += 0
          while (i > 0 && ks(i - 1) > c) { ks(i) = ks(i - 1); vs(i) = vs(i - 1); i -= 1 }
          ks(i) = c; vs(i) = id
          id
        }
      }
      require(hit(n) < 0, s"duplicate piece at index $pid")
      hit(n) = pid
    }

    /** Longest piece matching at cp[start..]: (pid, len) or (-1, 1). */
    def longestAt(cp: Array[Int], start: Int): (Int, Int) = {
      var n = 0
      var i = start
      var bestPid = -1; var bestLen = 1
      var live = true
      while (live && i < cp.length) {
        val ch = childOf(n, cp(i))
        if (ch < 0) live = false
        else {
          n = ch; i += 1
          if (hit(n) >= 0) { bestPid = hit(n); bestLen = i - start }
        }
      }
      (bestPid, bestLen)
    }

    /** Greedy segmentation of a word: parallel (pid, 1-based pos). */
    def segment(cp: Array[Int]): (Array[Int], Array[Int]) = {
      val pids = scala.collection.mutable.ArrayBuffer.empty[Int]
      val poss = scala.collection.mutable.ArrayBuffer.empty[Int]
      var pos = 0
      while (pos < cp.length) {
        val (pid, len) = longestAt(cp, pos)
        pids += pid
        poss += pos + 1
        pos += len
      }
      (pids.toArray, poss.toArray)
    }
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Trie]()

  private def trie(spec: String): Trie =
    cache.computeIfAbsent(spec, s => {
      val pieces = s.split('|').map(_.codePoints().toArray)
      require(pieces.nonEmpty && pieces.forall(_.nonEmpty), "empty piece in wordpiece vocab")
      new Trie(pieces)
    })

  /** Static entry both paths call (null-tolerant, see AhoCorasick). */
  def segmentRows(word: UTF8String, spec: UTF8String): ACMatchRows = {
    if (word == null || spec == null) return new ACMatchRows(Array.emptyIntArray, Array.emptyIntArray)
    val (pids, poss) = trie(spec.toString).segment(word.toString.codePoints().toArray)
    new ACMatchRows(pids, poss)
  }

  private def spec: String = AhoCorasick.joinSpec(Vocab)

  /** (doc_id, pid, pos) piece stream; pid = −1 is UNK. */
  def pieces(docs: DataFrame): DataFrame = {
    graft.Partitioning.fanOut(docs)
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .selectExpr("doc_id", s"wordpiece_pieces(w, '$spec') AS (pid, pos)")
  }

  /** Per-doc tokenization stats; zero-piece docs kept. */
  def stats(docs: DataFrame): DataFrame = {
    val perDoc = pieces(docs).groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_pieces"),
        sum(when(col("pid") === -1, 1L).otherwise(0L)).as("n_unk"),
        countDistinct(when(col("pid") >= 0, col("pid"))).as("n_distinct_known"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk"),
        coalesce(col("n_distinct_known"), lit(0L)).as("n_distinct_known"))
  }

  /** Per-piece usage totals (vocabulary-sized), zero-use pieces kept. */
  def pieceFreq(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = Vocab.zipWithIndex.map { case (p, i) => (i, p) }.toDF("pid", "piece")
    val perPiece = pieces(docs).where(col("pid") >= 0)
      .groupBy("pid")
      .agg(count(lit(1)).as("n_uses"), countDistinct(col("doc_id")).as("n_docs"))
    vocab.join(perPiece, Seq("pid"), "left_outer")
      .select(col("pid"), col("piece"),
        coalesce(col("n_uses"), lit(0L)).as("n_uses"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  private var sinkCounter = 0

  /** Streaming tokenizer-fertility twin (the `streaming_blocklist_freq`
    * shape): documents arrive as a stream, the trie generator tokenizes
    * in the stream's map stage exactly as in batch, and per-language
    * fertility counters are maintained as a complete-mode aggregate —
    * bounded state, one row per language. A word's piece stream starts
    * at pos 1, so `n_words` is the count of pos=1 rows — no distinct
    * aggregate (which streaming rejects). Draining the finite gate
    * corpus must reproduce the batch oracle's per-language totals
    * exactly; fertility (pieces per word) is the exact-integer permille
    * plus one final IEEE division, the [[graft.text.BigramLm]] lane
    * discipline.
    */
  def runStreamingFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val src = graft.sources.StreamingSources.docSource(spark, sfDir)
    val agg = src
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .selectExpr("lang", s"wordpiece_pieces(w, '$spec') AS (pid, pos)")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_pieces"),
        sum(when(col("pid") === -1, 1L).otherwise(0L)).as("n_unk"),
        sum(when(col("pos") === 1, 1L).otherwise(0L)).as("n_words"))
    val qn = synchronized { sinkCounter += 1; s"graft_wordpiece_sink_$sinkCounter" }
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(qn)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(qn)
      .select(
        col("lang"), col("n_words"), col("n_pieces"), col("n_unk"),
        expr("(1000 * n_pieces) div greatest(n_words, CAST(1 AS BIGINT))").as("fertility_permille"))
      .withColumn("fertility",
        col("n_pieces").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double"))
  }

  /** Shared oracle prefix: greedy-advance recursion + piece
    * reconstruction via lead().
    */
  private def duckPieceCtes: String = {
    val values = Vocab.map(p => s"('$p')").mkString(", ")
    s"""vocab AS (SELECT * FROM (VALUES $values) AS v(p)),
       |words AS (
       |  SELECT doc_id, i AS widx, l[i] AS w
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents),
       |    unnest(generate_series(1, len(l))) g(i)
       |  WHERE length(l[i]) > 0),
       |step(doc_id, widx, w, pos) AS (
       |  SELECT doc_id, widx, w, 1 FROM words
       |  UNION ALL
       |  SELECT s.doc_id, s.widx, s.w,
       |    s.pos + coalesce((SELECT max(length(v.p)) FROM vocab v
       |                      WHERE substr(s.w, s.pos, length(v.p)) = v.p), 1)
       |  FROM step s WHERE s.pos <= length(s.w)),
       |seq AS (
       |  SELECT doc_id, widx, w, pos,
       |    lead(pos) OVER (PARTITION BY doc_id, widx ORDER BY pos) AS npos
       |  FROM step),
       |pieces AS (
       |  SELECT doc_id, substr(w, CAST(pos AS INT), CAST(npos - pos AS INT)) AS piece,
       |    NOT EXISTS (SELECT 1 FROM vocab v
       |                WHERE v.p = substr(w, CAST(pos AS INT), CAST(npos - pos AS INT))) AS is_unk
       |  FROM seq WHERE npos IS NOT NULL)""".stripMargin
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "wordpiece_stats",
      (s, dir) => stats(Tables.documents(s, dir)).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $duckPieceCtes,
             |perdoc AS (
             |  SELECT doc_id, count(*) AS n_pieces,
             |    sum(CASE WHEN is_unk THEN 1 ELSE 0 END) AS n_unk,
             |    count(DISTINCT CASE WHEN NOT is_unk THEN piece END) AS n_distinct_known
             |  FROM pieces GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(coalesce(p.n_pieces, 0) AS BIGINT) AS n_pieces,
             |  CAST(coalesce(p.n_unk, 0) AS BIGINT) AS n_unk,
             |  CAST(coalesce(p.n_distinct_known, 0) AS BIGINT) AS n_distinct_known
             |FROM documents d LEFT JOIN perdoc p USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
    EngineQuery(
      "wordpiece_piece_freq",
      (s, dir) => pieceFreq(Tables.documents(s, dir)).orderBy("pid"),
      Some {
        val values = Vocab.zipWithIndex.map { case (p, i) => s"($i, '$p')" }.mkString(", ")
        s"""WITH RECURSIVE $duckPieceCtes,
           |vid AS (SELECT * FROM (VALUES $values) AS t(pid, piece)),
           |perpiece AS (
           |  SELECT piece, count(*) AS n_uses, count(DISTINCT doc_id) AS n_docs
           |  FROM pieces WHERE NOT is_unk GROUP BY 1)
           |SELECT v.pid, v.piece,
           |  CAST(coalesce(f.n_uses, 0) AS BIGINT) AS n_uses,
           |  CAST(coalesce(f.n_docs, 0) AS BIGINT) AS n_docs
           |FROM vid v LEFT JOIN perpiece f USING (piece)
           |ORDER BY v.pid""".stripMargin
      },
    ),
    // Streaming twin: drains the finite corpus as a stream; must equal
    // the batch recursion's per-language totals exactly.
    EngineQuery(
      "streaming_wordpiece_fertility",
      (s, dir) => runStreamingFertility(s, dir).orderBy("lang"),
      Some(s"""WITH RECURSIVE $duckPieceCtes,
             |wcnt AS (
             |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words
             |  FROM words w JOIN documents d USING (doc_id) GROUP BY 1),
             |pcnt AS (
             |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_pieces,
             |    CAST(sum(CASE WHEN is_unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
             |  FROM pieces p JOIN documents d USING (doc_id) GROUP BY 1)
             |SELECT w.lang, w.n_words,
             |  coalesce(p.n_pieces, 0) AS n_pieces,
             |  coalesce(p.n_unk, 0) AS n_unk,
             |  (1000 * coalesce(p.n_pieces, 0)) // greatest(w.n_words, 1) AS fertility_permille,
             |  CAST(coalesce(p.n_pieces, 0) AS DOUBLE)
             |    / CAST(greatest(w.n_words, 1) AS DOUBLE) AS fertility
             |FROM wcnt w LEFT JOIN pcnt p USING (lang)
             |ORDER BY lang""".stripMargin),
    ),
  )
}

/** Generator `wordpiece_pieces(word, 'p1|p2|…')` → rows
  * (pid INT, −1 = UNK; pos INT 1-based code point). The vocab spec
  * must be foldable; the trie compiles once per executor.
  */
case class WordPieceGenerator(left: Expression, right: Expression)
    extends BinaryExpression with CollectionGenerator {

  override def position: Boolean = false
  override def inline: Boolean = true
  override def elementSchema: StructType =
    new StructType()
      .add("pid", IntegerType, nullable = false)
      .add("pos", IntegerType, nullable = false)
  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: org.apache.spark.sql.types.StringType,
            _: org.apache.spark.sql.types.StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "wordpiece_pieces needs (string column, foldable string vocab spec)")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    WordPiece.segmentRows(left.eval(input).asInstanceOf[UTF8String], right.eval(input).asInstanceOf[UTF8String])
      .structRows(2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) => s"graft.text.WordPiece.segmentRows($t, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordPieceGenerator =
    copy(left = newLeft, right = newRight)
}
