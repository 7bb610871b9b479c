package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{EngineQuery, Tables}

/** ANALYZE-style table profiling — per-column row/null/distinct counts
  * and typed min/max, the statistics layer under optimizer costing,
  * data-quality monitoring, and ingest validation (every warehouse's
  * ANALYZE TABLE / dbt source freshness / Deequ profile). Not in the
  * reference (no tables); engine-infrastructure extension.
  *
  * Shape: ONE aggregation pass computes every metric for every column
  * — no per-column scans. The multiple exact COUNT(DISTINCT)s rewrite
  * into a single Expand-based aggregate (one shuffle, data ×(ncols+1)
  * map-side). That expansion is the scale knob: at 100 TB you swap
  * `countDistinct` for `approx_count_distinct` (same plan minus the
  * Expand; the engine's `hll_partitioned_distinct` query is that
  * sketch path) — exact distinct is kept HERE because the gate
  * cross-checks the values against DuckDB exactly.
  *
  * Type portability: numeric min/max surface as double (exact casts of
  * the stored values); timestamps as epoch MICROSECOND doubles (micros
  * < 2^53, so the double is exact); strings in their own min/max
  * columns. The one wide row unpivots to one row per column via a
  * generator projection, so the gate relation is (col_name, metrics…).
  */
object Profile {

  def profile(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    def numView(f: StructField) = f.dataType match {
      case _: NumericType => Some(col(f.name).cast("double"))
      // parquet timestamps surface as NTZ (isAdjustedToUTC=false);
      // session TZ is UTC everywhere in this engine, so the NTZ→TZ cast
      // is the identity wall-clock mapping DuckDB's epoch_us applies
      case _: TimestampType | _: TimestampNTZType =>
        Some(unix_micros(col(f.name).cast("timestamp")).cast("double"))
      case _ => None
    }
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val isStr = f.dataType == StringType
      Seq(
        count(c).as(s"__cnt_${f.name}"),
        countDistinct(c).as(s"__nd_${f.name}"),
        numView(f).map(min).getOrElse(min(nullD)).as(s"__minn_${f.name}"),
        numView(f).map(max).getOrElse(max(nullD)).as(s"__maxn_${f.name}"),
        (if (isStr) min(c) else min(nullS)).as(s"__mins_${f.name}"),
        (if (isStr) max(c) else max(nullS)).as(s"__maxs_${f.name}"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    one
      .select(explode(array(fields.map { f =>
        struct(
          lit(f.name).as("col_name"),
          col("__n").as("n_rows"),
          (col("__n") - col(s"__cnt_${f.name}")).as("n_nulls"),
          col(s"__nd_${f.name}").as("n_distinct"),
          col(s"__minn_${f.name}").as("min_num"),
          col(s"__maxn_${f.name}").as("max_num"),
          col(s"__mins_${f.name}").as("min_str"),
          col(s"__maxs_${f.name}").as("max_str"))
      }: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** The catalog half of ANALYZE (the [[profile]] relation is the
    * observable half): register `name` as a catalog parquet table over
    * `sfDir` and compute table + column statistics, so Catalyst's CBO
    * (`spark.sql.cbo.enabled`) can estimate filter selectivity and
    * join build sides from ndv/min/max instead of raw file size. The
    * engine's gate queries read paths (no catalog), so they plan on
    * AQE's runtime re-estimation; this is the write-side workflow a
    * persistent deployment runs after ingest — ANALYZE once, every
    * subsequent query's compile-time join order/build-side improves.
    * `StatsPlanningSpec` pins a join whose broadcast decision flips
    * exactly when these stats are present.
    */
  def analyzeTable(
      spark: org.apache.spark.sql.SparkSession, sfDir: String, name: String): String = {
    val cat = s"graft_stats_$name"
    spark.sql(s"DROP TABLE IF EXISTS $cat")
    spark.sql(s"CREATE TABLE $cat USING parquet LOCATION '$sfDir/$name.parquet'")
    spark.sql(s"ANALYZE TABLE $cat COMPUTE STATISTICS FOR ALL COLUMNS")
    cat
  }

  /** DuckDB mirror: one UNION ALL branch per column (the oracle can
    * afford per-column scans at verification scale). */
  private def duckProfile(table: String, cols: Seq[(String, String)]): String =
    cols.map { case (name, kind) =>
      val (minN, maxN) = kind match {
        case "num" => (s"CAST(min(CAST($name AS DOUBLE)) AS DOUBLE)",
          s"CAST(max(CAST($name AS DOUBLE)) AS DOUBLE)")
        case "ts" => (s"CAST(min(epoch_us($name)) AS DOUBLE)",
          s"CAST(max(epoch_us($name)) AS DOUBLE)")
        case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      val (minS, maxS) =
        if (kind == "str") (s"min($name)", s"max($name)")
        else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
         |  count(*) - count($name) AS n_nulls,
         |  count(DISTINCT $name) AS n_distinct,
         |  $minN AS min_num, $maxN AS max_num,
         |  $minS AS min_str, $maxS AS max_str
         |FROM $table""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  private val lineitemCols = Seq(
    "l_orderkey" -> "num", "l_partkey" -> "num", "l_suppkey" -> "num",
    "l_linenumber" -> "num", "l_quantity" -> "num", "l_extendedprice" -> "num",
    "l_discount" -> "num", "l_tax" -> "num", "l_returnflag" -> "str",
    "l_linestatus" -> "str", "l_shipdate" -> "ts")

  /** Deequ-style declarative constraint audit — the ingest-validation
    * rulebook every pipeline runs before promoting a batch: per-table
    * domain/range/null rules as ONE conditional-aggregation pass per
    * table, plus two cross-table rules (referential integrity as an
    * anti-join count; temporal consistency as an equi-join count).
    * Output is (rule_name, n_checked, n_violations) — the shipdate
    * rule genuinely fails on this synthetic data, so the gate proves
    * violation COUNTING, not just all-zero agreement.
    *
    * Scale shape: the single-table rules share one scan each (no
    * per-rule passes); the referential check is a key-only anti join
    * (at 100 TB: orders' key projection is the build side or a bloom
    * pre-filter — the engine's bloom_semi_join_pruned pattern); the
    * temporal check joins on the same key the tables would be bucketed
    * by. Everything reduces to a handful of single-row aggregates
    * unioned driver-side.
    */
  def dqConstraintAudit(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    def rule(name: String, checked: org.apache.spark.sql.Column, violated: org.apache.spark.sql.Column) =
      (name, checked, violated)
    val liRules = Seq(
      rule("lineitem.quantity_positive", lit(true), col("l_quantity") <= 0),
      rule("lineitem.discount_in_0_1", lit(true), col("l_discount") < 0 || col("l_discount") > 1),
      rule("lineitem.returnflag_domain", lit(true), !col("l_returnflag").isin("A", "N", "R")))
    val liAgg = lineitem.agg(
      count(lit(1)).as("__n"),
      liRules.map { case (n, _, v) =>
        sum(when(v, 1L).otherwise(0L)).as("__v_" + n.replace('.', '_'))
      }: _*)
    val liRows = liAgg.select(explode(array(liRules.map { case (n, _, _) =>
      struct(lit(n).as("rule_name"), col("__n").as("n_checked"), col("__v_" + n.replace('.', '_')).as("n_violations"))
    }: _*)).as("r")).select("r.*")

    val oRules = Seq(
      rule("orders.totalprice_positive", lit(true), col("o_totalprice") <= 0),
      rule("orders.status_domain", lit(true), !col("o_orderstatus").isin("O", "F", "P")))
    val oAgg = orders.agg(
      count(lit(1)).as("__n"),
      oRules.map { case (n, _, v) =>
        sum(when(v, 1L).otherwise(0L)).as("__v_" + n.replace('.', '_'))
      }: _*)
    val oRows = oAgg.select(explode(array(oRules.map { case (n, _, _) =>
      struct(lit(n).as("rule_name"), col("__n").as("n_checked"), col("__v_" + n.replace('.', '_')).as("n_violations"))
    }: _*)).as("r")).select("r.*")

    val orphan = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(lineitem.agg(count(lit(1)).as("n_checked"))))
      .select(lit("lineitem.orderkey_in_orders").as("rule_name"),
        col("n_checked"), col("n_violations"))

    val shipAfter = lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)).as("n_violations"))
      .select(lit("lineitem.shipdate_after_orderdate").as("rule_name"),
        col("n_checked"), col("n_violations"))

    liRows.unionByName(oRows).unionByName(orphan).unionByName(shipAfter)
  }

  /** Benford's-law first-digit audit of order totals — the forensic
    * DQ screen for fabricated or truncated numeric columns (Nigrini's
    * accounting test): natural multi-scale amounts follow
    * P(d) = log10(1 + 1/d); a synthetic uniform column does not, and
    * the per-digit observed-vs-expected permille gap shows exactly
    * how. One aggregation pass into 9 digit groups; expected permille
    * are integer literals of the canonical distribution (no runtime
    * log10, no float portability surface). The first digit comes from
    * the DECIMAL(12,2) string form — identical text rendering in both
    * engines for the all-positive price domain.
    */
  def benfordFirstDigit(orders: DataFrame): DataFrame = {
    val expected = Map(1 -> 301L, 2 -> 176L, 3 -> 125L, 4 -> 97L, 5 -> 79L,
      6 -> 67L, 7 -> 58L, 8 -> 51L, 9 -> 46L)
    val expCol = expected.foldLeft(lit(0L)) { case (acc, (d, pm)) =>
      when(col("digit") === d.toString, pm).otherwise(acc)
    }
    val counts = orders
      .select(substring(col("o_totalprice").cast(DecimalType(12, 2)).cast("string"), 1, 1)
        .as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("observed"))
    val tot = counts.agg(sum(col("observed")).as("total"))
    counts.crossJoin(broadcast(tot))
      .select(
        col("digit"),
        col("observed"),
        expr("(observed * 1000) div total").as("observed_pm"),
        expCol.as("expected_pm"))
  }

  /** k-anonymity / l-diversity audit over a quasi-identifier tuple —
    * the privacy screen a training-data pipeline runs before releasing
    * user-derived tables (Sweeney k-anonymity; Machanavajjhala
    * l-diversity). Each QI equivalence class reports its size (k) and
    * its count of distinct sensitive values (l); classes failing
    * either bound are the re-identification risk surface. ONE
    * aggregation pass (count + distinct-count per group, map-side
    * combined); the class relation is QI-cardinality, corpus-
    * independent. Sensitive attribute here: account-balance band
    * (1000-unit integer cents bins — exact in both engines).
    */
  def kAnonymityAudit(customer: DataFrame, k: Long, l: Long): DataFrame =
    customer
      .select(
        col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as long) div 100000").as("bal_band"))
      .groupBy("nation", "segment")
      .agg(
        count(lit(1)).as("class_size"),
        countDistinct(col("bal_band")).as("l_distinct"))
      .select(
        col("nation"), col("segment"), col("class_size"), col("l_distinct"),
        (col("class_size") >= k).cast("long").as("k_anonymous"),
        (col("l_distinct") >= l).cast("long").as("l_diverse"))

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007): the third
    * rung of the privacy ladder after k-anonymity and l-diversity. An
    * l-diverse class can still leak — if a class's sensitive-value
    * DISTRIBUTION differs sharply from the table-wide one, membership
    * alone is informative. Per QI class, report the total-variation
    * distance between its sensitive distribution and the global one;
    * classes with tv_ppm above the t threshold are the leak surface.
    *
    * INTEGER-EXACT (the Drift cross-multiplication rule): for class g
    * of size N_g over table size N, per sensitive value v the
    * proportion gap |c_gv/N_g − c_v/N| is carried as the exact
    * numerator |c_gv·N − c_v·N_g|, summed over v, and divided ONCE:
    * tv_ppm = 10⁶·Σ_v|…| div (2·N_g·N). One late division (not per-v)
    * keeps truncation from accumulating; all quantities are
    * nonnegative, so Spark `div` and DuckDB `//` agree. The numerator
    * lane runs in DECIMAL(38,0)/HUGEINT — c_gv·N wraps int64 at only
    * ~3·10⁹ rows, the same wall Drift documents.
    *
    * Scale (100 TB): the table collapses to (QI, v) counts in one
    * map-side-combined aggregation; the class×value completion (absent
    * values still contribute c_v·N_g) is a broadcast cross join at
    * |classes|·|values| cardinality, corpus-independent.
    */
  def tClosenessAudit(customer: DataFrame): DataFrame = {
    val base = customer.select(
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("segment"),
      expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as long) div 100000").as("bal_band"))
    val gv = base.groupBy("nation", "segment", "bal_band").agg(count(lit(1)).as("c_gv"))
    val g = base.groupBy("nation", "segment").agg(count(lit(1)).as("class_size"))
    val v = base.groupBy("bal_band").agg(count(lit(1)).as("c_v"))
    val tot = base.agg(count(lit(1)).as("n_total"))
    g.crossJoin(broadcast(v))
      .join(gv, Seq("nation", "segment", "bal_band"), "left")
      .crossJoin(broadcast(tot))
      .select(
        col("nation"), col("segment"), col("class_size"),
        abs(coalesce(col("c_gv"), lit(0L)).cast("decimal(38,0)") * col("n_total")
          - col("c_v").cast("decimal(38,0)") * col("class_size")).as("num"),
        col("n_total"))
      .groupBy("nation", "segment", "class_size", "n_total")
      .agg(sum(col("num")).as("num_sum"))
      .select(
        col("nation"), col("segment"), col("class_size"),
        expr("(1000000 * num_sum) div greatest(2 * cast(class_size as decimal(38,0)) * n_total, 1)")
          .cast("long").as("tv_ppm"))
  }

  private val DuckTCloseness =
    """WITH t AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000 AS bal_band
      |  FROM customer),
      |gv AS (SELECT nation, segment, bal_band, CAST(count(*) AS BIGINT) AS c_gv
      |       FROM t GROUP BY nation, segment, bal_band),
      |g AS (SELECT nation, segment, CAST(count(*) AS BIGINT) AS class_size
      |      FROM t GROUP BY nation, segment),
      |v AS (SELECT bal_band, CAST(count(*) AS BIGINT) AS c_v FROM t GROUP BY bal_band),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t),
      |x AS (
      |  SELECT g.nation, g.segment, g.class_size, tot.n_total,
      |    abs(CAST(coalesce(gv.c_gv, 0) AS HUGEINT) * tot.n_total
      |        - CAST(v.c_v AS HUGEINT) * g.class_size) AS num
      |  FROM g CROSS JOIN v CROSS JOIN tot
      |  LEFT JOIN gv ON gv.nation = g.nation AND gv.segment = g.segment
      |    AND gv.bal_band = v.bal_band)
      |SELECT nation, segment, class_size,
      |  CAST((1000000 * sum(num))
      |    // greatest(2 * CAST(class_size AS HUGEINT) * n_total, 1) AS BIGINT) AS tv_ppm
      |FROM x GROUP BY nation, segment, class_size, n_total
      |ORDER BY nation, segment""".stripMargin

  /** Pipeline telemetry via the `Observation` API — named metrics that
    * ride THE SAME job as the transformation they audit (production
    * shape: a 100 TB filter stage reports its input/selectivity counts
    * with ZERO extra scans; a separate audit query would double the
    * read). The observed metrics land driver-side as one tiny row —
    * the legitimate driver-side touchpoint, bounded by metric count —
    * and the gate cross-checks them against an independent recompute
    * (n_kept from the actual filtered result must equal the observed
    * selectivity counter).
    */
  def observeFilterAudit(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    val filtered = orders
      .observe(obs,
        count(lit(1)).as("n_scanned"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n_urgent"))
      .where(col("o_orderpriority") === "1-URGENT")
    val kept = filtered.count() // the one action both the stage and its metrics ride
    val m = obs.get
    Seq((m("n_scanned").asInstanceOf[Long], m("n_urgent").asInstanceOf[Long], kept))
      .toDF("n_scanned", "n_urgent", "n_kept")
  }

  /** Join-key skew report — the pre-flight diagnostic before any big
    * join/aggregation: per-key counts (one map-side-combined pass),
    * the top-k hot keys with their exact permille share of the table,
    * and a concentration index (Σc² scaled — the Simpson/HHI measure,
    * exact rational ×10⁶). At 100 TB this is what decides salting /
    * AQE-skew-join / broadcast BEFORE the expensive job runs; the
    * report itself costs one aggregation + a top-k.
    */
  def keySkewReport(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("c"))
    val tot = counts.agg(
      sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
      sum(col("c") * col("c")).as("sc2"))
    counts
      .orderBy(col("c").desc, col("key"))
      .limit(topK)
      .crossJoin(broadcast(tot))
      .select(
        col("key"), col("c").as("cnt"),
        expr("(1000 * c) div n_rows").as("share_permille"),
        col("n_keys"),
        // HHI ×10⁶: 1e6·Σc²/n² — 1e6/n_keys (uniform) … 1e6 (one key)
        expr("(1000000 * sc2) div (n_rows * n_rows)").as("hhi_ppm"))
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "key_skew_report",
      (s, dir) => keySkewReport(Tables.lineitem(s, dir), "l_partkey", topK = 10)
        .orderBy(col("cnt").desc, col("key")),
      Some("""WITH c AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_keys,
             |  CAST(sum(c * c) AS BIGINT) AS sc2 FROM c)
             |SELECT key, c AS cnt, (1000 * c) // n_rows AS share_permille,
             |  n_keys, (1000000 * sc2) // (n_rows * n_rows) AS hhi_ppm
             |FROM c CROSS JOIN t
             |ORDER BY cnt DESC, key LIMIT 10""".stripMargin),
    ),
    EngineQuery(
      "observe_metrics_audit",
      (s, dir) => observeFilterAudit(Tables.orders(s, dir)),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_scanned,
             |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
             |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM orders""".stripMargin),
    ),
    EngineQuery(
      "k_anonymity_audit",
      (s, dir) => kAnonymityAudit(Tables.customer(s, dir), k = 10, l = 3)
        .orderBy("nation", "segment"),
      Some("""WITH t AS (
             |  SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
             |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000 AS bal_band
             |  FROM customer)
             |SELECT nation, segment,
             |  CAST(count(*) AS BIGINT) AS class_size,
             |  CAST(count(DISTINCT bal_band) AS BIGINT) AS l_distinct,
             |  CAST(CASE WHEN count(*) >= 10 THEN 1 ELSE 0 END AS BIGINT) AS k_anonymous,
             |  CAST(CASE WHEN count(DISTINCT bal_band) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS l_diverse
             |FROM t GROUP BY nation, segment ORDER BY nation, segment""".stripMargin),
    ),
    EngineQuery(
      "t_closeness_audit",
      (s, dir) => tClosenessAudit(Tables.customer(s, dir)).orderBy("nation", "segment"),
      Some(DuckTCloseness),
    ),
    EngineQuery(
      "benford_first_digit",
      (s, dir) => benfordFirstDigit(Tables.orders(s, dir)).orderBy("digit"),
      Some("""WITH d AS (
             |  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1)
             |    AS digit
             |  FROM orders),
             |c AS (SELECT digit, count(*) AS observed FROM d GROUP BY digit),
             |t AS (SELECT CAST(sum(observed) AS BIGINT) AS total FROM c)
             |SELECT digit, observed,
             |  CAST((observed * 1000) // total AS BIGINT) AS observed_pm,
             |  CAST(CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176 WHEN '3' THEN 125
             |    WHEN '4' THEN 97 WHEN '5' THEN 79 WHEN '6' THEN 67 WHEN '7' THEN 58
             |    WHEN '8' THEN 51 WHEN '9' THEN 46 ELSE 0 END AS BIGINT) AS expected_pm
             |FROM c, t ORDER BY digit""".stripMargin),
    ),
    EngineQuery(
      "profile_lineitem",
      (s, dir) => profile(Tables.lineitem(s, dir)),
      Some(duckProfile("lineitem", lineitemCols)),
    ),
    EngineQuery(
      "dq_constraint_audit",
      (s, dir) =>
        dqConstraintAudit(Tables.lineitem(s, dir), Tables.orders(s, dir))
          .orderBy("rule_name"),
      Some("""SELECT * FROM (
             |  SELECT 'lineitem.quantity_positive' AS rule_name,
             |    CAST(count(*) AS BIGINT) AS n_checked,
             |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem.discount_in_0_1', CAST(count(*) AS BIGINT),
             |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'lineitem.returnflag_domain', CAST(count(*) AS BIGINT),
             |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'orders.totalprice_positive', CAST(count(*) AS BIGINT),
             |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM orders
             |  UNION ALL
             |  SELECT 'orders.status_domain', CAST(count(*) AS BIGINT),
             |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM orders
             |  UNION ALL
             |  SELECT 'lineitem.orderkey_in_orders',
             |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             |    CAST((SELECT count(*) FROM lineitem l
             |          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             |  UNION ALL
             |  SELECT 'lineitem.shipdate_after_orderdate',
             |    CAST(count(*) AS BIGINT),
             |    CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |) ORDER BY rule_name""".stripMargin),
      headline = true,
    ),
  )
}
