package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.{Span, Tracer}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, MapType, StructType}

import graft.{EngineQuery, GraftExtensions, Registry, Tables}
import graft.curation.Curation
import graft.dedup.Dedup
import graft.kmer.Kmers
import graft.text.{Bpe, TextAnalysis, Unigram}

/** The benchmark's JVM side: one workload, one process, `local[nproc]`.
  *
  * Modes (`--mode`):
  *  - `oracles`: print the registry's DuckDB oracle SQL for the queries
  *    the workloads run, as JSON; needs no session;
  *  - `measure`: build the session, run the workload's untimed setup,
  *    one discarded cold pass and `--warmup` discarded warm-up
  *    passes (together `setup_s`), then warm passes
  *    until `--seconds` have elapsed; with `--trace 1`, untraced and
  *    traced passes alternate for `--seconds`, then the cumulative
  *    prefix chain and the workload's probes run under the recorder.
  *
  * Every output of a pass goes through [[Harness.sink]], which ends it
  * in an order-free md5 digest (rows, hash); run.py compares those
  * digests with DuckDB's.
  */
object Harness {
  /** A pass whose jobs run longer than this is cancelled and failed;
    * about four times a cold driver_loops pass on a quiet 4-core host.
    */
  val PassBudgetSec = 120

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  /** One output of a pass: a call into the program and where it lands. */
  final case class Out(label: String, build: () => DataFrame, parquet: Option[String] = None)

  /** One rung of a cumulative prefix chain, run only when tracing. */
  final case class Prefix(layer: String, label: String, build: () => DataFrame,
                          parquet: Option[String] = None)

  trait Workload {
    def setup(): Unit = ()
    def outputs: Seq[Out]
    def prefixes: Seq[Prefix]
    /** Extra traced calls outside the pass (counts and times per layer). */
    def probes(): Map[String, Double] = Map.empty
    /** Layer of each output's call span (its module), for driver_loops' self times. */
    def layerOf(label: String): String = label.takeWhile(_ != '.')
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    args("mode") match {
      case "oracles" => println(oraclesJson())
      case mode =>
        val res = try new Harness(args).run()
        catch { case NonFatal(e) => e.printStackTrace(); sys.exit(2) }
        Files.writeString(Paths.get(args("out")), res)
        // a hung non-daemon Spark thread must not keep the process alive
        Runtime.getRuntime.halt(0)
    }
  }

  /** The driver_loops workload's registry queries, by module. */
  val LoopQueries: Seq[(String, String)] = Seq(
    "dedup" -> "neardup_components",
    "curation" -> "maxcover_select_lazy",
    "text" -> "perceptron_learn_rounds",
    "operators" -> "graph_pagerank_parts",
    "operators" -> "graph_kcore_nodes")
  /** Registry queries whose oracle SQL the benchmark reuses. */
  val OracleQueries: Seq[String] =
    LoopQueries.map(_._2) ++ Seq("bpe_tokenize_from_saved", "unigram_tokenize_from_saved",
      "export_training_shards")

  def query(name: String): EngineQuery =
    Registry.all.find(_.name == name).getOrElse(sys.error(s"no registry query $name"))

  def oraclesJson(): String =
    OracleQueries.map(n => Json.str(n) + ":" + Json.str(query(n).oracle.get)).mkString("{", ",", "}")

  /** Order-free digest of a relation: row count and the sum of the first
    * 60 bits of md5 over each row's columns (sorted by name, joined by
    * '|'). run.py computes the same two numbers in DuckDB.
    */
  def digestExprs(df: DataFrame): Seq[Column] = {
    val parts = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.6f", col(f.name))
        case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name))
        case _ => col(f.name).cast("string")
      }
    }
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(conv(substring(md5(concat_ws("|", parts: _*)), 1, 15), 16, 10)
        .cast("decimal(38,0)")), lit(0)).as("hash"))
  }

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case NonFatal(_) => -1.0 }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def dirBytesAndFiles(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toList
      (fs.map(Files.size).sum, fs.size)
    }
}

final class Harness(args: Harness.Args) {
  import Harness._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val load1Start = load1()
  private val dir = args("data")
  private val work = Paths.get(args("work")).toAbsolutePath
  private val seconds = args("seconds").toDouble
  private val warmupPasses = args.get("warmup").map(_.toInt).getOrElse(0)
  private val tracing = args.get("trace").contains("1")

  private val sessionT0 = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionStartS = (System.nanoTime() - sessionT0) / 1e9
  private val sc = spark.sparkContext
  val tracer = new Tracer(sc)

  private val workload: Workload = args("workload") match {
    case "kmer_k8" => new KmerWorkload(8)
    case "kmer_k31" => new KmerWorkload(31)
    case "curation_zipf" => new CurationWorkload
    case "driver_loops" => new LoopsWorkload
    case w => sys.error(s"unknown workload $w")
  }

  // ------------------------------------------------------------ workloads

  final class KmerWorkload(k: Int) extends Workload {
    private def genomes = Tables.table(spark, dir, "genomes")
    val outputs = Seq(Out("Kmers.thresholded", () => Kmers.thresholded(genomes, "text", k)))
    val prefixes = Seq(
      Prefix("sources", "Tables.table", () => genomes),
      Prefix("kmer", "Kmers.kmersGen", () => Kmers.kmersGen(genomes, "text", k)),
      Prefix("shuffle", "Kmers.kmerCounts", () => Kmers.kmerCounts(genomes, "text", k)),
      Prefix("kmer", "Kmers.thresholded", () => Kmers.thresholded(genomes, "text", k)))
  }

  final class CurationWorkload extends Workload {
    private def docs = Tables.documents(spark, dir)
    private val shards = work.resolve("shards").toString
    private def assign() = Curation.trainingShardAssignment(docs, minScore = 0.51, budget = 512, nShards = 8)
    var trainS = 0.0
    override def setup(): Unit = {
      val t0 = System.nanoTime()
      Bpe.trainAndSaveMerges(spark, dir)
      Unigram.trainAndSaveVocab(spark, dir)
      trainS = (System.nanoTime() - t0) / 1e9
    }
    val outputs = Seq(
      Out("Curation.trainingShardAssignment", assign, Some(shards)),
      Out("Bpe.tokenizeStatsFromSaved", () => Bpe.tokenizeStatsFromSaved(spark, dir)),
      Out("Unigram.tokenizeStatsFromSaved", () => Unigram.tokenizeStatsFromSaved(spark, dir)))
    val prefixes = Seq(
      Prefix("sources", "Tables.documents", () => docs),
      Prefix("text", "TextAnalysis.qualityScore", () => TextAnalysis.qualityScore(docs)),
      Prefix("dedup", "quality+Dedup.dedupApply", () => {
        val d = docs
        val good = TextAnalysis.qualityScore(d).where(col("score") >= 0.51).select("doc_id")
        d.join(good, Seq("doc_id"), "left_semi").join(Dedup.dedupApply(d), Seq("doc_id"), "left_semi")
      }),
      Prefix("curation", "Curation.trainingShardAssignment", assign),
      Prefix("sink", "parquet write", assign, Some(shards)))
    override def probes() = dedupProbes(docs) ++ Map("text.train_s" -> trainS)
  }

  final class LoopsWorkload extends Workload {
    val outputs = LoopQueries.map { case (module, name) =>
      Out(s"$module.$name", () => query(name).fn(spark, dir))
    }
    val prefixes = Nil
    override def probes() = {
      val (_, scan) = tracer.within("Tables.documents+lineitem") {
        sinkNoop(Tables.documents(spark, dir))
        sinkNoop(Tables.lineitem(spark, dir))
      }
      dedupProbes(Tables.documents(spark, dir)) ++
        Map("sources.scan_s" -> (scan.end - scan.start) / 1000.0)
    }
  }

  /** MinHash pair generation and the connected-components loop, each
    * timed on its own; the loop's job count stands in for its rounds.
    */
  private def dedupProbes(docs: DataFrame): Map[String, Double] = {
    val (pairs, mh) = tracer.within("Dedup.minhashCandidatePairs") {
      sinkNoop(Dedup.minhashCandidatePairs(docs))
    }
    val (_, cc) = tracer.within("Dedup.connectedComponents") {
      sinkNoop(Dedup.connectedComponents(Dedup.minhashCandidatePairs(docs)))
    }
    freeStorage()
    tracer.flush()
    Map("dedup.minhash_s" -> (mh.end - mh.start) / 1000.0, "dedup.pairs" -> pairs.toDouble,
      "dedup.components_s" -> (cc.end - cc.start) / 1000.0,
      "dedup.components_rounds" -> tracer.under(cc.id).count(_.kind == "job").toDouble)
  }

  // --------------------------------------------------------------- passes

  /** Sink `df` and return its digest (rows, hash): as an observation on
    * the parquet write, or as the aggregate that ends the plan.
    */
  def sink(name: String, df: DataFrame, parquet: Option[String]): (Long, String) = parquet match {
    case Some(p) =>
      // the write is the sink; the digest rides along as an observation
      val obs = Observation(s"digest_$name")
      val ds = digestExprs(df)
      df.observe(obs, ds.head, ds.tail: _*).write.mode("overwrite").partitionBy("shard").parquet(p)
      val m = obs.get
      (m("rows").asInstanceOf[Long], String.valueOf(m("hash")))
    case None =>
      // the digest aggregate is the sink: codegen'd and combined map-side
      val ds = digestExprs(df)
      val r = df.agg(ds.head, ds.tail: _*).head()
      (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** A prefix rung's or probe's sink: every column materialized, rows counted. */
  private def sinkNoop(df: DataFrame): Long = {
    val obs = Observation("rows")
    df.observe(obs, count(lit(1)).as("rows")).write.mode("overwrite").format("noop").save()
    obs.get("rows").asInstanceOf[Long]
  }

  private def freeStorage(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  final case class PassResult(wall: Double, digests: Map[String, (Long, String)],
                              error: Option[String], root: Option[Span] = None,
                              gcS: Double = 0, jitS: Double = 0)

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "pass-watchdog"); t.setDaemon(true); t
  }

  /** One pass: every output built and sunk in order, timed as a whole. */
  def pass(i: Int, trace: Boolean): PassResult = {
    tracer.pass = i
    val timer = watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelAllJobs()
    }, PassBudgetSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
    val gc0 = gcMs(); val jit0 = jitMs()
    val t0 = System.nanoTime()
    if (trace) tracer.begin("pass")
    val res = try {
      val ds = workload.outputs.map { o =>
        def run() = sink(o.label, o.build(), o.parquet)
        def runTraced() = sink(o.label, tracer.within("construct")(o.build())._1, o.parquet)
        o.label -> (if (trace) tracer.within(o.label)(runTraced())._1 else run())
      }
      PassResult((System.nanoTime() - t0) / 1e9, ds.toMap, None)
    } catch {
      case NonFatal(e) =>
        PassResult((System.nanoTime() - t0) / 1e9, Map.empty,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
    }
    val root = if (trace) Some(tracer.end()) else None
    timer.cancel(false)
    val out = res.copy(root = root, gcS = (gcMs() - gc0) / 1000.0, jitS = (jitMs() - jit0) / 1000.0)
    freeStorage()
    if (res.wall > PassBudgetSec && res.error.isEmpty) out.copy(error = Some("over budget"))
    else out
  }

  def run(): String = {
    workload.setup()
    val cold = pass(0, trace = false)
    // JIT warm-up: a fixed number of discarded passes (part of set-up,
    // digests still checked); counted, not timed, so a slow host warms
    // the JIT as far as a quiet one before the measured passes start
    val warmup = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    while (warmup.size < warmupPasses) warmup += pass(-1 - warmup.size, trace = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val warm = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(PassResult, Map[String, Double])]
    val t0 = System.nanoTime()
    def more = (System.nanoTime() - t0) / 1e9 < seconds && warm.size < 500
    if (!tracing) while (warm.isEmpty || more) warm += pass(warm.size + 1, trace = false)
    else {
      // untraced and traced passes alternate as U T T U U T ..., so JIT
      // drift lands on both sides alike; one pair at least, so a slow
      // workload's traced run still ends within the run deadline
      while (traced.isEmpty || more) {
        if (traced.size % 2 == 0) {
          warm += pass(warm.size + 1, trace = false)
          traced += tracedPass(1000 + traced.size)
        } else {
          traced += tracedPass(1000 + traced.size)
          warm += pass(warm.size + 1, trace = false)
        }
      }
    }
    val layers = if (tracing) traceLayers(warm.map(_.wall).toSeq, traced.toSeq) else Map.empty[String, Double]
    val rss = peakRssMb()
    def passJson(p: PassResult) = Json.obj(
      "wall_s" -> Json.num(p.wall),
      "error" -> p.error.map(Json.str).getOrElse("null"),
      "digests" -> Json.obj(p.digests.toSeq.map { case (k, (rows, h)) =>
        k -> s"[$rows,${Json.str(h)}]" }: _*))
    Json.obj(
      "workload" -> Json.str(args("workload")),
      "setup_s" -> Json.num(setupS),
      "session_start_s" -> Json.num(sessionStartS),
      "peak_rss_mb" -> Json.num(rss),
      "cold" -> passJson(cold),
      "warmup" -> warmup.map(passJson).mkString("[", ",", "]"),
      "passes" -> warm.map(passJson).mkString("[", ",", "]"),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "host" -> Json.obj(
        "nproc" -> cpus.toString,
        "master" -> Json.str(sc.master),
        "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version" -> Json.str(spark.version),
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .map(Json.str).mkString("[", ",", "]"),
        "load1_start" -> Json.num(load1Start),
        "load1_end" -> Json.num(load1())))
  }

  // -------------------------------------------------------------- tracing

  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.MinValue)) { case ((tot, hi), (s, e)) =>
      if (e <= hi) (tot, hi)
      else (tot + e - math.max(s, hi), e)
    }._1

  /** Every recorded span, one JSON object per line. */
  private def writeSpans(path: Path): Unit =
    Files.write(path, tracer.spans.map { s =>
      Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end), "parent" -> s.parent.toString,
        "pass" -> s.pass.toString,
        "counts" -> Json.obj(s.counts.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    }.asJava)

  private def listen(on: Boolean): Unit =
    if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
    else { tracer.flush(); sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }

  private def tracedPass(i: Int): (PassResult, Map[String, Double]) = {
    listen(on = true)
    tracer.takePlanSums()
    val p = pass(i, trace = true)
    val plan = tracer.takePlanSums()
    listen(on = false)
    p -> plan
  }

  /** Per-layer numbers from traced passes and the prefix chain. */
  private def traceLayers(untraced: Seq[Double],
                          full: Seq[(PassResult, Map[String, Double])]): Map[String, Double] = {
    val sec = (ms: Double) => ms / 1000.0
    listen(on = true)
    // prefix chain: each rung three times in a row, median; self = rung -
    // previous. Rung by rung, not the whole chain three times over: a rung
    // run between other rungs' plans read up to half slower than a pass
    val rungs = workload.prefixes.zipWithIndex.map { case (pf, i) =>
      val runs = (0 until 3).map { r =>
        tracer.pass = 2000 + 3 * i + r
        // the last rung is the pass's own output and ends in its own sink
        def run() =
          if (pf eq workload.prefixes.last) sink(pf.label, pf.build(), pf.parquet)._1
          else sinkNoop(pf.build())
        val (rows, s) = tracer.within(pf.label)(run())
        freeStorage()
        (sec(s.end - s.start), rows)
      }
      (pf, median(runs.map(_._1)), runs.head._2)
    }
    val probes = workload.probes()
    tracer.flush()

    val perPass = full.map { case (p, plan) =>
      val root = p.root.get
      val kids = tracer.under(root.id)
      val calls = kids.filter(c => c.kind == "call" && c.parent == root.id)
      val jobs = kids.filter(_.kind == "job")
      val tasks = kids.filter(_.kind == "task")
      def tsum(k: String) = tasks.map(_.counts.getOrElse(k, 0.0)).sum
      val wallMs = root.end - root.start
      val busyMs = union(jobs.map(j => (j.start, j.end)))
      // DataFrame construction on the driver; jobs a loop operator runs
      // while being built are executor work, not construction
      val construct = kids.filter(c => c.kind == "call" && c.name == "construct").map { c =>
        (c.end - c.start) - union(tracer.under(c.id).filter(_.kind == "job").map(j => (j.start, j.end)))
      }.sum
      val callMetrics = workload.outputs.flatMap { o =>
        calls.find(_.name == o.label).toSeq.flatMap { c =>
          val js = tracer.under(c.id).count(_.kind == "job")
          Seq(s"${o.label}.s" -> sec(c.end - c.start), s"${o.label}.jobs" -> js.toDouble)
        }
      }
      val selfByLayer = calls.groupBy(c => workload.layerOf(c.name)).map { case (l, cs) =>
        s"self_call.$l" -> cs.map(c => sec(c.end - c.start)).sum
      }
      Map(
        "trace.wall_s" -> p.wall,
        "plan.construct_s" -> sec(construct.max(0.0)),
        "plan.analysis_s" -> plan.getOrElse("analysis_s", 0.0),
        "plan.optimizer_s" -> plan.getOrElse("optimizer_s", 0.0),
        "plan.physical_s" -> plan.getOrElse("physical_s", 0.0),
        "plan.codegen_stages" -> plan.getOrElse("codegen_stages", 0.0),
        "plan.fallback_nodes" -> plan.getOrElse("fallback_nodes", 0.0),
        "plan.single_partition_exchanges" -> plan.getOrElse("single_partition_exchanges", 0.0),
        "sched.jobs" -> jobs.size.toDouble,
        "sched.stages" -> kids.count(_.kind == "stage").toDouble,
        "sched.tasks" -> tasks.size.toDouble,
        "sched.driver_gap_s" -> sec((wallMs - busyMs).max(0.0)),
        "sched.task_busy_frac" -> tsum("run_ms") / (wallMs * cpus),
        "shuffle.write_mb" -> tsum("shuffle_write_bytes") / 1e6,
        "shuffle.records" -> tsum("shuffle_write_records"),
        "shuffle.fetch_wait_s" -> tsum("fetch_wait_ms") / 1000,
        "shuffle.spill_mb" -> tsum("spill_bytes") / 1e6,
        "sources.input_records" -> tsum("input_records"),
        "jvm.gc_s" -> p.gcS,
        "jvm.jit_s" -> p.jitS) ++ callMetrics ++ selfByLayer
    }
    val keys = perPass.flatMap(_.keys).distinct
    val med = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)).toSeq)).toMap

    // self time per layer: prefix differences for the chained calls,
    // call spans for outputs outside the chain
    val chain = rungs.zip(0.0 +: rungs.map(_._2)).map { case ((pf, t, rows), prev) =>
      (pf, t, t - prev, rows)
    }
    val chainLayers = chain.groupBy(_._1.layer).map { case (l, xs) => l -> xs.map(_._3).sum }
    val chainTotal = chain.lastOption.map(_._2).getOrElse(0.0)
    val callSelf = med.collect { case (k, v) if k.startsWith("self_call.") => k.stripPrefix("self_call.") -> v }
    val selfs: Map[String, Double] = (workload match {
      case _: CurationWorkload =>
        // the shard assignment + write is the chain; the tokenizers are own calls
        val tok = workload.outputs.drop(1).map(o => med.getOrElse(s"${o.label}.s", 0.0)).sum
        chainLayers + ("text" -> (chainLayers.getOrElse("text", 0.0) + tok))
      case _: KmerWorkload => chainLayers
      case _ => callSelf
    }).map { case (l, v) => s"self.${l}_s" -> v }
    val rung = chain.map { case (pf, t, self, rows) => pf.label -> (t, self, rows) }.toMap
    def rungT(l: String) = rung.get(l).map(_._1).getOrElse(0.0)
    def rungSelf(l: String) = rung.get(l).map(_._2).getOrElse(0.0)
    def rungRows(l: String) = rung.get(l).map(_._3.toDouble).getOrElse(0.0)
    val untracedWall = median(untraced)
    val workloadSpecific: Map[String, Double] = workload match {
      case _: KmerWorkload => Map(
        "sources.scan_s" -> rungT("Tables.table"),
        "kmer.map_s" -> rungT("Kmers.kmersGen"),
        "kmer.map_self_s" -> rungSelf("Kmers.kmersGen"),
        "kmer.reduce_s" -> rungSelf("Kmers.kmerCounts"),
        "kmer.distinct" -> rungRows("Kmers.kmerCounts"),
        "kmer.kept" -> rungRows("Kmers.thresholded"))
      case c: CurationWorkload =>
        val (bytes, files) = dirBytesAndFiles(work.resolve("shards"))
        Map(
          "sources.scan_s" -> rungT("Tables.documents"),
          "text.quality_s" -> rungSelf("TextAnalysis.qualityScore"),
          "text.tokenize_s" -> c.outputs.drop(1).map(o => med.getOrElse(s"${o.label}.s", 0.0)).sum,
          "text.bpe_tokenize_s" -> med.getOrElse("Bpe.tokenizeStatsFromSaved.s", 0.0),
          "text.unigram_tokenize_s" -> med.getOrElse("Unigram.tokenizeStatsFromSaved.s", 0.0),
          "curation.shard_s" -> rungSelf("Curation.trainingShardAssignment"),
          "curation.kept_rows" -> rungRows("Curation.trainingShardAssignment"),
          "sink.write_s" -> rungSelf("parquet write"),
          "sink.write_mb" -> bytes / 1e6,
          "sink.files" -> files.toDouble)
      case _ => Map.empty
    }
    writeSpans(work.resolve("spans.jsonl"))
    val selfSum = selfs.values.sum
    med.filterNot(_._1.startsWith("self_call.")) ++ selfs ++ workloadSpecific ++ probes ++ Map(
      "session.start_s" -> sessionStartS,
      "trace.untraced_wall_s" -> untracedWall,
      "trace.overhead_s" -> (med("trace.wall_s") - untracedWall),
      "trace.self_sum_s" -> selfSum,
      "trace.chain_s" -> chainTotal,
      "trace.passes" -> full.size.toDouble,
      "jvm.peak_rss_mb" -> peakRssMb())
  }
}

/** Minimal JSON text builders (values are pre-rendered JSON). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
