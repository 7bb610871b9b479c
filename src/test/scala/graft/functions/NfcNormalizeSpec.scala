package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark

class NfcNormalizeSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val decomposed = "café" // e + combining acute
  private val composed = "café"    // precomposed é

  test("composed and decomposed forms normalize to identical bytes") {
    val out = Seq((1L, decomposed), (2L, composed)).toDF("id", "t")
      .select(col("id"), expr("nfc_normalize(t)").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe composed
    out(2L) shouldBe composed
  }

  test("already-NFC input returns the SAME UTF8String (zero copy), null passes through") {
    val s = UTF8String.fromString(composed)
    NfcNormalize.normalize(s) should be theSameInstanceAs s
    Seq((1L, Option.empty[String])).toDF("id", "t")
      .selectExpr("nfc_normalize(t)").collect()(0).isNullAt(0) shouldBe true
  }
}
