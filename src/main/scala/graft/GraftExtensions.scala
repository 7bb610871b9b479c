package graft

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Engine function registration, packaged both ways Spark supports:
  *
  *  - [[GraftExtensions]] for session-creation time
  *    (`.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.GraftExtensions`) — the idiomatic
  *    deployment for a cluster;
  *  - [[GraftFunctions.register]] for an already-running session
  *    (idempotent; the library's internal entry points call it so the
  *    functions work regardless of how the session was built).
  */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "kmer_windows" -> { exprs =>
      val k = intArg("kmer_windows", exprs, 2)(1, "k")
      kmer.KmerGenerator(exprs.head, k)
    },
    "kmer_windows_pos" -> { exprs =>
      val k = intArg("kmer_windows_pos", exprs, 2)(1, "k")
      kmer.KmerGenerator(exprs.head, k, withPos = true)
    },
    // kmer_codes(text, k): (code, word, n) rows — ACGT windows packed
    // 2 bits a base, other windows as strings; see kmer.KmerCodeGenerator
    "kmer_codes" -> { exprs =>
      val k = intArg("kmer_codes", exprs, 2)(1, "k")
      kmer.KmerCodeGenerator(exprs.head, k)
    },
    // kmer_decode(code, k): a kmer_codes code back to its ACGT string
    "kmer_decode" -> { exprs =>
      val k = intArg("kmer_decode", exprs, 2)(1, "k")
      kmer.KmerDecode(exprs.head, k)
    },
    "ngram_hashes" -> { exprs =>
      val arg = intArg("ngram_hashes", exprs, 3) _
      val (minN, maxN) = (arg(1, "minN"), arg(2, "maxN"))
      text.NgramHashGenerator(exprs.head, minN, maxN)
    },
    // rolling_hashes(text, k[, keepMod]): all k-window hashes, or the
    // content-defined h % keepMod == 0 sample filtered INSIDE the
    // generator (discarded windows never become rows)
    "rolling_hashes" -> { exprs =>
      val arg = intArg("rolling_hashes", exprs, 2, 3) _
      val (k, keepMod) = (arg(1, "k"), if (exprs.length > 2) arg(2, "keepMod") else 1)
      text.RollingHashGenerator(exprs.head, k, winnowW = 0, keepMod = keepMod)
    },
    "winnow_fingerprints" -> { exprs =>
      val arg = intArg("winnow_fingerprints", exprs, 3) _
      val (k, w) = (arg(1, "k"), arg(2, "w"))
      text.RollingHashGenerator(exprs.head, k, w)
    },
    // ac_matches(text, 'p1|p2|…'): every occurrence of every literal
    // pattern (overlapping included) via a per-executor-cached
    // Aho-Corasick automaton — O(text + matches), dictionary-size-free
    "ac_matches" -> { exprs => text.AhoCorasickGenerator(exprs.head, exprs(1)) },
    // wordpiece_pieces(word, 'p1|p2|…'): greedy longest-match subword
    // segmentation against a per-executor-cached trie; pid -1 = UNK
    "wordpiece_pieces" -> { exprs => text.WordPieceGenerator(exprs.head, exprs(1)) },
    // topk_pairs(score, id, k): bounded-heap per-group top-k aggregate
    // (k-sized state, map-side-combinable) — the no-window-sort top-N
    "topk_pairs" -> { exprs => functions.TopKPairs(exprs(0), exprs(1), exprs(2)) },
    "dot_i64" -> { exprs => functions.DotI64(exprs.head, exprs(1)) },
    // dot_feats_w(feats, w): sparse (bucket, count) · dense weights —
    // the perceptron margin as one codegen'd loop (no per-element HOF
    // interpretation); see functions.DotFeatsW
    "dot_feats_w" -> { exprs => functions.DotFeatsW(exprs.head, exprs(1)) },
    // lcs_len(a, b): longest common SUBSEQUENCE length over two token
    // arrays — the ROUGE-L core as one codegen'd two-row DP loop
    "lcs_len" -> { exprs => functions.LcsLen(exprs.head, exprs(1)) },
    // unigram_segment(w, m, maxPiece): Viterbi DP + backwalk over one
    // word under a (pos*8+len → score) candidate map — the unigram-LM
    // EM hot loop as one codegen'd pass (no per-element HOF
    // interpretation, no per-step accumulator array copies)
    "unigram_segment" -> { exprs =>
      val maxPiece = intArg("unigram_segment", exprs, 3)(2, "maxPiece")
      functions.UnigramSegment(exprs.head, exprs(1), maxPiece)
    },
    // common_run_len(ta, pa, tb, pb, bound, step): maximal aligned
    // char run extending right (step=+1) or left (step=-1) from two
    // seed anchors — the winnowing seed extension as one byte-walking
    // codegen'd pass (no per-block interpreted substring re-scans)
    "common_run_len" -> { exprs =>
      val step = intArg("common_run_len", exprs, 6)(5, "step")
      functions.CommonRunLen(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4), step)
    },
    // bpe_merge_all(syms, as, bs): sequential greedy-leftmost replay of
    // a whole BPE merge table, each merge one in-place codegen'd pass
    // (no chained per-element HOF folds); see functions.BpeMergeAll
    "bpe_merge_all" -> { exprs => functions.BpeMergeAll(exprs(0), exprs(1), exprs(2)) },
    "nfc_normalize" -> { exprs => functions.NfcNormalize(exprs.head) },
    // char_entropy_q(text): (n, nd, hq) — the fixed-point entropy lane
    // as one tight code-point histogram loop per row (HOF lambdas
    // interpret per element; see functions.CharEntropyQ)
    "char_entropy_q" -> { exprs => functions.CharEntropyQ(exprs.head) },
    // Spark ships these sketch expressions for its own runtime join
    // filters but leaves them out of the public registry; the engine
    // exposes them under the upstream names for bounded-size semi-join
    // pre-filters (see Curation.decontaminateBloom).
    "bloom_filter_agg" -> { exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2))
    },
    "might_contain" -> { exprs =>
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))
    },
  )

  /** Argument `i` (called `param`) of a call to `fn` with `exprs`, after
    * checking that the call has one of the `arities` and that the
    * argument is a non-null foldable integer. A bad call fails analysis
    * with an error that names `fn`, never an internal error.
    */
  private def intArg(fn: String, exprs: Seq[Expression], arities: Int*)(i: Int, param: String): Int = {
    if (!arities.contains(exprs.length))
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$fn`", "expectedNum" -> arities.mkString(" or "),
        "actualNum" -> exprs.length.toString, "docroot" -> "https://spark.apache.org/docs/latest"))
    val e = exprs(i)
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

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, null, "", "", "", "", "", "", "scala_udf")

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
    }

  private[graft] def inject(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), b))
    }
    ext.injectOptimizerRule(_ => plans.RewriteDotProduct)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
