package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class GraftSessionSpec extends AnyFunSuite with Matchers {
  private val spark = GraftSession.local(2)

  test("a local session resolves the engine's functions in plain SQL, no register call") {
    // newSession: same extensions, but none of the temp functions that
    // GraftFunctions.register may have added to the shared test session
    spark.newSession().sql("SELECT kmer_decode(11L, 2)").head().getString(0) shouldBe "GT"
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
