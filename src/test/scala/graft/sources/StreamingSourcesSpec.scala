package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Pins the layout-branching streaming source (the r14 silent-zero-rows
  * defect class): a table that arrives as a part-file DIRECTORY — any
  * Spark-written table, and the 30x probe corpus — must stream exactly
  * the same rows as the harness's single-file layout. Before the shared
  * helper, eight streaming twins hardcoded the single-file glob and
  * would drain ZERO rows on a directory layout without erroring.
  */
class StreamingSourcesSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** A temp SF dir whose tables are part-file DIRECTORIES (Spark-written). */
  private lazy val dirLayout: String = {
    val base = new java.io.File(s"${graft.OutDir.base}/graft_dirlayout_sf")
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    for (t <- Seq("documents", "events", "embeddings"))
      spark.read.parquet(s"$sfDir/$t.parquet")
        .repartition(3) // force multiple part files
        .write.parquet(s"${base.getPath}/$t.parquet")
    base.getPath
  }

  test("tableSource streams every row on BOTH layouts (file + part-file dir)") {
    var n = 0
    def drain(dir: String): Long = {
      n += 1
      val qn = s"ss_layout_cnt_$n"
      val src = StreamingSources.docSource(spark, dir)
        .groupBy().count()
      val q = src.writeStream.outputMode("complete")
        .format("memory").queryName(qn).start()
      try q.processAllAvailable()
      finally q.stop()
      spark.table(qn).collect()(0).getLong(0)
    }
    val batchCnt = spark.read.parquet(s"$sfDir/documents.parquet").count()
    batchCnt should be > 0L
    drain(sfDir) shouldBe batchCnt       // harness single-file layout
    drain(dirLayout) shouldBe batchCnt   // probe part-file directory layout
  }

  // Per-family equality pins on the DIRECTORY layout — the layout the
  // hardcoded glob silently returned empty results on. Each must equal
  // the batch twin computed over the same rows.

  test("streaming blocklist freq on a part-file dir equals the single-file run") {
    val streamed = graft.text.Blocklist.runStreamingPatternFreq(spark, dirLayout)
      .orderBy("pid").collect().map(_.toSeq).toSeq
    val batch = graft.text.Blocklist.runStreamingPatternFreq(spark, sfDir)
      .orderBy("pid").collect().map(_.toSeq).toSeq
    streamed should not be empty
    streamed shouldBe batch
  }

  test("streaming hourly rollup on a part-file dir equals the single-file run") {
    val onDir = graft.streaming.EventAnalytics.runStreamingHourlyRollup(spark, dirLayout)
      .orderBy("hour_ms", "event_type").collect().map(_.toSeq).toSeq
    val onFile = graft.streaming.EventAnalytics.runStreamingHourlyRollup(spark, sfDir)
      .orderBy("hour_ms", "event_type").collect().map(_.toSeq).toSeq
    onDir should not be empty
    onDir shouldBe onFile
  }

  test("streaming IVF ingest on a part-file dir equals the single-file run (r16)") {
    val onDir = graft.similarity.Ann.ivfStreamingIngestFromSaved(spark, dirLayout)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val onFile = graft.similarity.Ann.ivfStreamingIngestFromSaved(spark, sfDir)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    onDir should not be empty
    onDir shouldBe onFile
  }

  test("streaming drift TV on a part-file dir equals the single-file run") {
    val onDir = graft.curation.Drift.runStreamingDriftTv(spark, dirLayout)
      .collect().map(_.toSeq).toSeq
    val onFile = graft.curation.Drift.runStreamingDriftTv(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    onDir should not be empty
    onDir shouldBe onFile
  }
}
