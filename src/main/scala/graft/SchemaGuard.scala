package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Harness-schema tripwire. The driver regenerates /root/testdata between
  * rounds, and a silent physical-type change there (r9: events.ts went
  * TIMESTAMP(NANOS) → plain micros) can knock whole query families out of
  * the correctness gate with no loud failure anywhere. This guard pins the
  * logical schema the engine expects for each of the ten harness tables —
  * with an explicit allow-set for the fields the harness has historically
  * served at different physical types (Tables normalizes those downstream)
  * — and renders any drift as one readable line per field.
  *
  * Used two ways: `HarnessSchemaSpec` fails the build on drift, and
  * `Verify.main` prints the diff to stderr before running the gate (it
  * does NOT abort the gate — queries not touching the drifted column
  * should still produce evidence).
  */
object SchemaGuard {

  /** Expected fields per table, in order: name → acceptable
    * `DataType.simpleString` values. Timestamp-bearing columns accept
    * exactly the encodings `Tables.normalizeTs` handles ('bigint' = the
    * legacy nanos-as-long read of TIMESTAMP(NANOS)). events.ts excludes
    * DATE — time-of-day is load-bearing there, and a date-encoded ts
    * would silently zero it.
    */
  private val ts: Set[String] = Set("bigint", "timestamp", "timestamp_ntz", "date")
  private val tsNoDate: Set[String] = ts - "date"

  val expected: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq(
      "n_nationkey" -> Set("int"), "n_name" -> Set("string"), "n_regionkey" -> Set("int")),
    "customer" -> Seq(
      "c_custkey" -> Set("bigint"), "c_name" -> Set("string"), "c_nationkey" -> Set("int"),
      "c_acctbal" -> Set("double"), "c_mktsegment" -> Set("string")),
    "supplier" -> Seq(
      "s_suppkey" -> Set("bigint"), "s_name" -> Set("string"), "s_nationkey" -> Set("int"),
      "s_acctbal" -> Set("double")),
    "part" -> Seq(
      "p_partkey" -> Set("bigint"), "p_name" -> Set("string"), "p_brand" -> Set("string"),
      "p_type" -> Set("string"), "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq(
      "o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> ts, "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq(
      "l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> ts),
    "events" -> Seq(
      "event_id" -> Set("bigint"), "ts" -> tsNoDate, "user_id" -> Set("bigint"),
      "event_type" -> Set("string"), "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq(
      "doc_id" -> Set("bigint"), "text" -> Set("string"), "lang" -> Set("string"),
      "source" -> Set("string"), "n_chars" -> Set("bigint")),
    "embeddings" -> Seq(
      "vec_id" -> Set("bigint"), "embedding" -> Set("array<float>"),
      "label" -> Set("int")),
  )

  /** Drift lines for one table's actual (raw, pre-normalization) schema;
    * empty = conforming. Pure function of the schema → unit-testable with
    * a deliberately wrong-typed table.
    */
  def diff(table: String, actual: StructType): Seq[String] =
    expected.get(table) match {
      case None => Seq(s"$table: not a known harness table")
      case Some(exp) =>
        val actualByName = actual.fields.map(f => f.name -> f.dataType.simpleString).toMap
        val missing = exp.collect {
          case (name, ok) if !actualByName.contains(name) =>
            s"$table.$name: MISSING (expected one of ${ok.mkString("/")})"
        }
        val drifted = exp.collect {
          case (name, ok) if actualByName.get(name).exists(t => !ok(t)) =>
            s"$table.$name: arrived as ${actualByName(name)}, expected one of ${ok.mkString("/")}"
        }
        val extra = actual.fields.collect {
          case f if !exp.exists(_._1 == f.name) =>
            s"$table.${f.name}: UNEXPECTED new column (${f.dataType.simpleString})"
        }
        missing ++ drifted ++ extra
    }

  /** Read all ten tables raw from sfDir and collect every drift line.
    * Reads schemas only (parquet footers), so this is cheap enough to run
    * first-thing in every Verify invocation.
    */
  def check(spark: SparkSession, sfDir: String): Seq[String] = {
    expected.keys.toSeq.sorted.flatMap { t =>
      try diff(t, spark.read.parquet(s"$sfDir/$t.parquet").schema)
      catch {
        case e: Exception =>
          val msg = Option(e.getMessage)
            .flatMap(_.linesIterator.find(_.nonEmpty))
            .getOrElse(e.getClass.getName)
          Seq(s"$t: unreadable ($msg)")
      }
    }
  }
}
