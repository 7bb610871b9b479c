package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference-CLI-compatible entry point — a drop-in for the
  * reference binary's invocation (reference `src/main.cpp:105-118`:
  * `./project N k localsize localsize_cpu device metric warmup`,
  * `argc < 8` rejected). A user of the reference can run the same
  * command line against this engine:
  *
  *   `sbt "runMain graft.Main N k localsize localsize_cpu device metric warmup"`
  *
  * Argument mapping (each reference knob → its Spark analog):
  *  - `N`: input truncation — the corpus is cut to its first N
  *    characters (reference `convert()`, `src/main.cpp:83-92`; the H-3
  *    truncate operator);
  *  - `k`: k-mer window length (k ≤ 64 bound kept, `GPU.h:15`);
  *  - `localsize` / `localsize_cpu`: SYCL work-group sizes → the
  *    engine's parallelism (`local[n]`, shuffle partitions); 0 or
  *    out-of-range falls back to all cores, mirroring the reference's
  *    device-max clamp;
  *  - `device` (1 GPU / 2 CPU / 3 hybrid): accepted and recorded in the
  *    metrics row; execution is always the one declarative plan —
  *    operator placement is the scheduler's concern, not the query's
  *    (SURVEY §2 M-8);
  *  - `metric`: 0 = wall ms (the only metric a single-JVM run can
  *    honor; recorded verbatim either way);
  *  - `warmup`: discarded warm-up passes before the measured one
  *    (reference `runprogram.sh:24-40`).
  *
  * Outputs the reference's two artifacts via [[sources.Sinks]]:
  * `output.txt` ("<word> : <count>" lines, thresholded v > 1, deduped)
  * and an appended `points.txt` metrics row.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.length < 7) {
      System.err.println(
        "usage: graft.Main N k localsize localsize_cpu device metric warmup " +
          "(env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_OUT_DIR)")
      sys.exit(1) // reference rejects argc < 8 the same way, src/main.cpp:106-109
    }
    val n = args(0).toLong
    require(n <= Int.MaxValue, s"N beyond ${Int.MaxValue} chars — pass N<=0 for the whole corpus")
    val k = args(1).toInt
    require(k >= 1 && k <= 64, s"k must be in [1, 64] (reference MAXK bound), got $k")
    val localsize = args(2).toInt
    val localsizeCpu = args(3).toInt
    val device = args(4).toInt
    val metric = args(5).toInt
    val warmup = args(6).toInt.max(0)

    val cores = Runtime.getRuntime.availableProcessors()
    // device 2 (CPU) honors the CPU work-group knob, like the reference's
    // CPU branch; other devices use localsize (src/main.cpp:114-115).
    val requested = if (device == 2) localsizeCpu else localsize
    val par = if (requested >= 1 && requested <= cores) requested else cores
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val spark = GraftSession.local(par)

    // The reference concatenates the corpus and truncates at N chars;
    // here the running character total is cut at N row-wise — same
    // window budget, but per-row windowing is preserved (SURVEY §2 M-2:
    // k-mer windows never cross documents). N <= 0 means whole corpus.
    // The prefix window is the single-partition formulation: N is the
    // reference's experiment knob (≤ 5M chars, README.md:3-8), so the
    // ordered prefix is bounded by construction; an unbounded-corpus
    // truncate would reuse the bucket decomposition of
    // [[curation.Curation.packSequencesScalable]].
    def corpus = {
      val docs = Tables.documents(spark, sfDir)
      if (n <= 0) docs
      else {
        val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
        docs
          .withColumn("__before", coalesce(sum(length(col("text")).cast("long")).over(w), lit(0L)))
          .where(col("__before") < n)
          .withColumn("text", col("text").substr(lit(1), (lit(n) - col("__before")).cast("int")))
          .drop("__before")
      }
    }

    def run(): Long = {
      val t0 = System.nanoTime()
      val counts = kmer.Kmers.thresholded(corpus, "text", k)
      sources.Sinks.writeCounts(counts, s"${OutDir.base}/graft_main/output.txt")
      (System.nanoTime() - t0) / 1000000
    }

    (1 to warmup).foreach(_ => run()) // discarded, reference runprogram.sh:24-40
    val ms = run()

    import spark.implicits._
    val row = Seq((n, k, par, device, metric, ms))
      .toDF("n", "k", "parallelism", "device", "metric", "wall_ms")
    sources.Sinks.appendMetricsRow(row, s"${OutDir.base}/graft_main/points.txt")
    println(s"""{"n":$n,"k":$k,"parallelism":$par,"device":$device,"metric":$metric,"wall_ms":$ms}""")
    spark.stop()
  }
}
