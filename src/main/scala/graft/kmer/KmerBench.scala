package graft.kmer

import graft.{GraftSession, Measure, Tables}

/** Shuffle-partition sweep of the k-mer count at k = 8 and 31 — the engine
  * analog of the reference's fixed-N local-size sweep
  * (`runprogram.sh:127`: one dataset size, `local_size` ∈ powers of
  * two, one metric point per setting; work-group size is to a SYCL
  * kernel what the shuffle partition count is to the aggregation
  * stage). Times [[Kmers.kmerCounts]], the counting path
  * [[Kmers.thresholded]] and `graft.Main` run, and emits one
  * `{"metric":"partitions_sweep",...}` JSON line per k and setting — the
  * reference's points-per-local-size curve, re-expressed. k = 8 counts
  * in the dense table, cut into one count block per shuffle partition,
  * so the sweep moves the block size too; k = 31 sorts chunks. At both,
  * the map side splits into window-range slices when the scan leaves
  * task slots idle.
  *
  * Run: `sbt "runMain graft.kmer.KmerBench"` with SPARK_GRAFT_SF_DIR
  * and SPARK_GRAFT_CPUS.
  */
object KmerBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val docs = Tables.documents(spark, sfDir)
    // AQE coalescing is OFF for the sweep — it would re-merge small
    // partitions and flatten exactly the curve being measured.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val measure = new Measure(spark)
    for (k <- Seq(8, 31); p <- Seq(1, 2, 4, 8, 16, 32, 64, 128, 256)) {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      def once(): Double = measure.pass(Kmers.kmerCounts(docs, "text", k)).wallSec
      // warm-up + min-of-2: one measured pass per setting leaves 5x
      // noise spikes in the curve; the reference's local-size sweep is
      // likewise multi-run per setting (runprogram.sh:49-73).
      once()
      val sec = math.min(once(), once())
      println(f"""{"metric":"partitions_sweep","partitions":$p,"k":$k,"sec":$sec%.3f}""")
    }
    spark.stop()
  }
}
