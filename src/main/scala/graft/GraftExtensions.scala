package graft

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The engine's SQL functions and planner strategy
  * ([[kmer.KmerCountStrategy]]), registered by one of two routes:
  *
  *  - [[GraftExtensions]] for every session the engine builds
  *    ([[GraftSession.local]]; a cluster deployment sets
  *    `spark.sql.extensions=graft.GraftExtensions`);
  *  - `adopt` ([[GraftSession]]) for a session a caller hands
  *    [[SparkEntry]]; it adds only what the session lacks.
  *
  * Both routes register the same arity-checked builders.
  */
object GraftFunctions {

  /** The arguments of one call to the function `fn`. */
  private final class Call(fn: String, val args: Seq[Expression]) {
    def apply(i: Int): Expression = args(i)

    /** Argument `i` (called `param`) as an integer, after checking that
      * it is a non-null foldable integer. A bad argument fails analysis
      * with an error that names `fn`, never an internal error.
      */
    def intArg(i: Int, param: String): Int = {
      val e = args(i)
      if (!e.foldable)
        throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
          "funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
      val v = e.dataType match {
        case ByteType | ShortType | IntegerType | LongType => e.eval(null)
        case _ => null
      }
      if (v == null)
        throw new AnalysisException("UNEXPECTED_INPUT_TYPE", Map(
          "paramIndex" -> (i + 1).toString, "functionName" -> s"`$fn`", "requiredType" -> "\"INT\"",
          "inputSql" -> s"\"${e.sql}\"", "inputType" -> s"\"${e.dataType.sql}\""))
      v.asInstanceOf[Number].intValue()
    }
  }

  /** The builder of the function `name`: a call whose number of
    * arguments is not one of `arities` fails analysis with an error
    * naming `name` before `build` sees it.
    */
  private def fn(name: String, arities: Int*)(build: Call => Expression): (String, Seq[Expression] => Expression) =
    name -> { exprs =>
      if (!arities.contains(exprs.length))
        throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
          "functionName" -> s"`$name`", "expectedNum" -> arities.mkString(" or "),
          "actualNum" -> exprs.length.toString, "docroot" -> "https://spark.apache.org/docs/latest"))
      build(new Call(name, exprs))
    }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("kmer_windows", 2) { c => kmer.KmerGenerator(c(0), c.intArg(1, "k")) },
    // kmer_codes(text, k): (code, word, n) rows — ACGT windows packed
    // 2 bits a base, other windows as strings; see kmer.KmerCodeGenerator
    fn("kmer_codes", 2) { c => kmer.KmerCodeGenerator(c(0), c.intArg(1, "k")) },
    // kmer_decode(code, k): a kmer_codes code back to its ACGT string
    fn("kmer_decode", 2) { c => kmer.KmerDecode(c(0), c.intArg(1, "k")) },
    fn("ngram_hashes", 3) { c => text.NgramHashGenerator(c(0), c.intArg(1, "minN"), c.intArg(2, "maxN")) },
    // rolling_hashes(text, k[, keepMod]): all k-window hashes, or the
    // content-defined h % keepMod == 0 sample filtered INSIDE the
    // generator (discarded windows never become rows)
    fn("rolling_hashes", 2, 3) { c =>
      val keepMod = if (c.args.length > 2) c.intArg(2, "keepMod") else 1
      text.RollingHashGenerator(c(0), c.intArg(1, "k"), winnowW = 0, keepMod = keepMod)
    },
    fn("winnow_fingerprints", 3) { c => text.RollingHashGenerator(c(0), c.intArg(1, "k"), c.intArg(2, "w")) },
    // ac_matches(text, 'p1|p2|…'): every occurrence of every literal
    // pattern (overlapping included) via a per-executor-cached
    // Aho-Corasick automaton — O(text + matches), dictionary-size-free
    fn("ac_matches", 2) { c => text.AhoCorasickGenerator(c(0), c(1)) },
    // wordpiece_pieces(word, 'p1|p2|…'): greedy longest-match subword
    // segmentation against a per-executor-cached trie; pid -1 = UNK
    fn("wordpiece_pieces", 2) { c => text.WordPieceGenerator(c(0), c(1)) },
    // topk_pairs(score, id, k): bounded-heap per-group top-k aggregate
    // (k-sized state, map-side-combinable) — the no-window-sort top-N
    fn("topk_pairs", 3) { c => functions.TopKPairs(c(0), c(1), c(2)) },
    fn("dot_i64", 2) { c => functions.DotI64(c(0), c(1)) },
    // dot_feats_w(feats, w): sparse (bucket, count) · dense weights —
    // the perceptron margin as one codegen'd loop (no per-element HOF
    // interpretation); see functions.DotFeatsW
    fn("dot_feats_w", 2) { c => functions.DotFeatsW(c(0), c(1)) },
    // lcs_len(a, b): longest common SUBSEQUENCE length over two token
    // arrays — the ROUGE-L core as one codegen'd two-row DP loop
    fn("lcs_len", 2) { c => functions.LcsLen(c(0), c(1)) },
    // unigram_segment(w, m, maxPiece): Viterbi DP + backwalk over one
    // word under a (pos*8+len → score) candidate map — the unigram-LM
    // EM hot loop as one codegen'd pass (no per-element HOF
    // interpretation, no per-step accumulator array copies)
    fn("unigram_segment", 3) { c => functions.UnigramSegment(c(0), c(1), c.intArg(2, "maxPiece")) },
    // common_run_len(ta, pa, tb, pb, bound, step): maximal aligned
    // char run extending right (step=+1) or left (step=-1) from two
    // seed anchors — the winnowing seed extension as one byte-walking
    // codegen'd pass (no per-block interpreted substring re-scans)
    fn("common_run_len", 6) { c =>
      functions.CommonRunLen(c(0), c(1), c(2), c(3), c(4), c.intArg(5, "step"))
    },
    // bpe_merge_all(syms, as, bs): sequential greedy-leftmost replay of
    // a whole BPE merge table, each merge one in-place codegen'd pass
    // (no chained per-element HOF folds); see functions.BpeMergeAll
    fn("bpe_merge_all", 3) { c => functions.BpeMergeAll(c(0), c(1), c(2)) },
    fn("nfc_normalize", 1) { c => functions.NfcNormalize(c(0)) },
    // char_entropy_q(text): (n, nd, hq) — the fixed-point entropy lane
    // as one tight code-point histogram loop per row (HOF lambdas
    // interpret per element; see functions.CharEntropyQ)
    fn("char_entropy_q", 1) { c => functions.CharEntropyQ(c(0)) },
    // Spark ships these sketch expressions for its own runtime join
    // filters but leaves them out of the public registry; the engine
    // exposes them under the upstream names for bounded-size semi-join
    // pre-filters (see Curation.decontaminateBloom).
    fn("bloom_filter_agg", 3) { c =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c(0), c(1), c(2))
    },
    fn("might_contain", 2) { c =>
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(c(0), c(1))
    },
  )

  /** The names of the engine's SQL functions. */
  private[graft] def names: Seq[String] = builders.map(_._1)

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, null, "", "", "", "", "", "", "scala_udf")

  private[graft] def inject(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), b))
    }
    ext.injectOptimizerRule(_ => plans.RewriteDotProduct)
    ext.injectPlannerStrategy(_ => kmer.KmerCountStrategy)
  }

  /** Registers in `spark` each engine function its registry lacks, and
    * the engine's planner strategy if its planner lacks it; what it has
    * is left as it is.
    */
  private[graft] def addMissing(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, info(name), b)
    }
    if (!spark.sessionState.planner.strategies.contains(kmer.KmerCountStrategy))
      spark.experimental.extraStrategies :+= kmer.KmerCountStrategy
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
