package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class GraftSessionSpec extends AnyFunSuite with Matchers {
  private val spark = GraftSession.local(2)
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("a local session resolves the engine's functions in plain SQL, no register call") {
    // newSession: a function registry built from the extensions alone
    spark.newSession().sql("SELECT kmer_decode(11L, 2)").head().getString(0) shouldBe "GT"
  }

  test("SparkEntry adopts a caller's session that lacks the engine's functions and nanosAsLong") {
    // a one-table data dir: both queries below read only documents
    val dir = s"${OutDir.base}/graft_adopt_sf"
    TestSpark.spark.createDataFrame(Seq((1L, "ACGTACGT GATTACA"), (2L, "a plain text row")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val foreign = TestSpark.spark.newSession()
    val registry = foreign.sessionState.functionRegistry
    val ids = GraftFunctions.names.map(FunctionIdentifier(_))
    ids.foreach(registry.dropFunction)
    foreign.conf.set(nanosAsLong, "false")
    ids.filter(registry.functionExists) shouldBe empty
    // kmer_count runs kmer_decode; blocklist_match_stats ac_matches
    for (q <- Seq("kmer_count", "blocklist_match_stats"))
      withClue(s"$q: ") {
        SparkEntry.queries(q)(foreign, dir).collect() should not be empty
      }
    ids should have size 19
    ids.filterNot(registry.functionExists) shouldBe empty
    foreign.conf.get(nanosAsLong) shouldBe "true"
  }

  test("SparkEntry plans kmer_count on a session built without the engine's extensions") {
    val dir = s"${OutDir.base}/graft_bare_sf"
    TestSpark.spark.createDataFrame(Seq((1L, "ACGTACGT GATTACA"), (2L, "a plain text row")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // create(): a new session on the running context, without GraftExtensions
    val bare = SparkSession.builder().create()
    try {
      bare.conf.set("spark.sql.shuffle.partitions", "2")
      bare.sessionState.planner.strategies should not contain kmer.KmerCountStrategy
      SparkEntry.queries("kmer_count")(bare, dir).collect().map(r => r.getString(0) -> r.getLong(1)) should
        contain allOf ("ACG" -> 2L, "GAT" -> 1L, "pla" -> 1L)
      bare.sessionState.planner.strategies.count(_ == kmer.KmerCountStrategy) shouldBe 1
      GraftSession.adopt(bare)
      bare.sessionState.planner.strategies.count(_ == kmer.KmerCountStrategy) shouldBe 1
    } finally {
      SparkSession.setActiveSession(TestSpark.spark)
      SparkSession.setDefaultSession(TestSpark.spark)
    }
  }

  test("adopt leaves the functions of a session that already has them as they are") {
    val s = TestSpark.spark.newSession()
    val registry = s.sessionState.functionRegistry
    def infos = GraftFunctions.names.map(n => registry.lookupFunction(FunctionIdentifier(n)).orNull)
    val before = infos
    before should not contain (null)
    GraftSession.adopt(s)
    infos.zip(before).foreach { case (after, was) => after should be theSameInstanceAs was }
  }

  test("the session time zone is UTC") {
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
  }

  test("releaseStorage leaves no cached frame or persisted RDD") {
    val df = spark.range(1000).toDF("id").persist()
    df.count()
    spark.sparkContext.parallelize(1 to 10).persist().count()
    spark.sparkContext.getRDDStorageInfo.count(_.numCachedPartitions > 0) should be >= 2
    GraftSession.releaseStorage(spark)
    spark.sharedState.cacheManager.isEmpty shouldBe true
    spark.sparkContext.getPersistentRDDs shouldBe empty
    // block removal is asynchronous: allow it a bounded grace period
    var waits = 50
    while (spark.sparkContext.getRDDStorageInfo.exists(_.numCachedPartitions > 0) && waits > 0) {
      Thread.sleep(100); waits -= 1
    }
    spark.sparkContext.getRDDStorageInfo.count(_.numCachedPartitions > 0) shouldBe 0
  }
}
