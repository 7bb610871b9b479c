package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark

class TopKAggSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def naiveTopK(rows: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
    rows.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(k)

  test("heap matches sort-take under random insert orders incl. ties") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 200) {
      val rows = Seq.fill(rnd.nextInt(40))((rnd.nextInt(6).toLong, rnd.nextInt(1000).toLong))
        .distinct // ids unique per score not required; drop exact dups
      for (k <- Seq(1, 3, 7)) {
        val h = new TopKHeap(k)
        rows.foreach { case (s, i) => h.insert(s, i) }
        withClue(s"trial=$trial k=$k rows=$rows: ") {
          h.sortedPairs.toSeq shouldBe naiveTopK(rows, k)
        }
      }
    }
  }

  test("merge of arbitrary partial heaps equals global top-k") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 100) {
      val rows = Seq.fill(60)((rnd.nextInt(10).toLong, rnd.nextLong() & 0xffffL)).distinct
      val parts = rows.grouped(1 + rnd.nextInt(10)).toSeq
      val partials = parts.map { p =>
        val h = new TopKHeap(5); p.foreach { case (s, i) => h.insert(s, i) }; h
      }
      val merged = new TopKHeap(5)
      partials.foreach { p =>
        (0 until p.size).foreach(i => merged.insert(p.scores(i), p.ids(i)))
      }
      withClue(s"trial=$trial: ") {
        merged.sortedPairs.toSeq shouldBe naiveTopK(rows, 5)
      }
    }
  }

  test("aggregate over many partitions matches the window rank; plan has no Window") {
    val rnd = new scala.util.Random(5)
    val data = (1 to 5000).map(i => (s"g${i % 7}", rnd.nextInt(50).toLong, i.toLong))
    val df = data.toDF("g", "s", "id").repartition(13)
    val got = df.groupBy("g")
      .agg(expr("topk_pairs(s, id, 4)").as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("pos"), col("col.score"), col("col.id"))
    val gotMap = got.collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq)
      .toMap
    val wantMap = data.groupBy(_._1).view
      .mapValues(rs => naiveTopK(rs.map(r => (r._2, r._3)), 4)).toMap
    gotMap shouldBe wantMap

    val exec = got.queryExecution.executedPlan.toString
    exec should include("ObjectHashAggregate")
    exec should not include "Window"
  }

  test("k=1 degenerates to argmax; null scores are skipped") {
    val df = Seq(
      ("a", Some(5L), 1L), ("a", None, 2L), ("a", Some(5L), 0L), ("b", Some(1L), 9L))
      .toDF("g", "s", "id")
    val got = df.groupBy("g").agg(expr("topk_pairs(s, id, 1)").as("tk"))
      .select(col("g"), explode(col("tk")).as("e"))
      .select(col("g"), col("e.score"), col("e.id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    got shouldBe Array(("a", 5L, 0L), ("b", 1L, 9L)).sorted
  }
}
