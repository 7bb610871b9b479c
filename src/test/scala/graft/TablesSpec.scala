package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Tables.table` infers a table's schema once per session. */
class TablesSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  private val dir = s"${OutDir.base}/graft_tables_memo"
  private val sentinel = "tables-spec-sentinel"

  /** Job group of every job started on the shared context, in order. */
  private val groups = new ConcurrentLinkedQueue[String]
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      groups.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
  })

  /** The Spark jobs `body` starts: after it, one sentinel job runs, and
    * the listener, which sees jobs in start order, is read once it has
    * seen the sentinel.
    */
  private def jobsDuring(body: => Unit): Int = {
    groups.clear()
    body
    val sc = spark.sparkContext
    sc.setJobGroup(sentinel, sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    var waits = 100
    while (!groups.contains(sentinel) && waits > 0) { Thread.sleep(50); waits -= 1 }
    groups.contains(sentinel) shouldBe true
    groups.toArray.takeWhile(_ != sentinel).length
  }

  private def write(columns: String*): Unit =
    spark.range(3).selectExpr(columns: _*).write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("a second read of an unchanged table launches no job; a rewrite is inferred again") {
    write("id", "id * 2 AS twice")
    val session: SparkSession = spark.newSession()
    jobsDuring(Tables.table(session, dir, "t")) should be >= 1
    jobsDuring(Tables.table(session, dir, "t")) shouldBe 0
    Tables.table(session, dir, "t").schema.fieldNames shouldBe Array("id", "twice")
    Tables.table(session, dir, "t").orderBy("id").collect().map(_.getLong(1)) shouldBe Array(0L, 2L, 4L)

    write("id", "CAST(id AS STRING) AS name", "id * 3 AS thrice")
    val after = Tables.table(session, dir, "t")
    after.schema.fieldNames shouldBe Array("id", "name", "thrice")
    after.orderBy("id").collect().map(_.getString(1)) shouldBe Array("0", "1", "2")
  }

  test("each session infers a table's schema itself") {
    write("id")
    val first = spark.newSession()
    Tables.table(first, dir, "t")
    jobsDuring(Tables.table(first, dir, "t")) shouldBe 0
    jobsDuring(Tables.table(spark.newSession(), dir, "t")) should be >= 1
  }
}
