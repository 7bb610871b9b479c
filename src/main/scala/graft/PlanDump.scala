package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Optimization-round plan snapshots: dump `explain("formatted")` for
  * the named queries into one file each — the before/after evidence
  * files under plans/<round>/ that the judge diffs plan claims against.
  *
  * Unlike [[Plans]] (the audited-property artifact), this main defaults
  * to [[Bench]]'s sf0.1 directory, so with the same `SPARK_GRAFT_CPUS`
  * the dumped plan is the plan the bench actually times.
  *
  * usage: runMain graft.PlanDump <outDir> <suffix> <name>[,<name>...]
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS (default 32)
  * writes <outDir>/<name>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, namesCsv) = args.take(3)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    val byName = Registry.all.map(q => q.name -> q).toMap
    names.foreach { name =>
      byName.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(q) =>
          try {
            // setup half first (from_saved queries need the artifact on
            // disk to PLAN the apply half)
            q.setup.foreach(_(spark, sfDir))
            val df = q.fn(spark, sfDir)
            val out = new ByteArrayOutputStream()
            Console.withOut(out) { df.explain("formatted") }
            Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
              out.toString(StandardCharsets.UTF_8).getBytes(StandardCharsets.UTF_8))
            println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          } finally {
            try GraftSession.releaseStorage(spark) catch { case _: Throwable => () }
          }
      }
    }
    spark.stop()
  }
}
