package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{EngineQuery, Tables}

/** Z-order (Morton-curve) multi-dimensional layout — the data-skipping
  * technique behind Delta OPTIMIZE ZORDER BY / Iceberg sort orders
  * (Morton 1966; "interleave the bits of the clustering keys so ONE
  * sort order localizes EVERY dimension"): a file sorted by raw key A
  * prunes scans filtering on A but is useless for filters on B; files
  * laid out along the Z-curve over (A, B) keep BOTH dimensions'
  * min/max spans narrow, so a 2-D predicate skips most files.
  *
  * At 100 TB this is a WRITE-TIME decision that pays on every read:
  * `repartitionByRange(zval)` before the parquet writer assigns rows
  * to files along the curve, and the engine's ordinary min/max
  * file-statistics pruning (see `partitioned_scan_prune` /
  * `FormatSources`) then skips files no differently than for a 1-D
  * sort — no new read-path machinery needed.
  *
  * The gate query quantifies exactly that effect without writing
  * files: rows map to 64 hypothetical files under (a) the Z-curve and
  * (b) a raw partkey-range layout; per-file min/max of both dimensions
  * decide which files a fixed 2-D predicate must read. The whole plan
  * is one tiny broadcast (the two key maxima) + a projection + a
  * 64-group aggregate (map-side combine; no window, no big join, no
  * global sort ANYWHERE — both layouts' file ids are pure per-row
  * expressions).
  *
  * The 16-bit key domain is DERIVED FROM THE DATA, not fixed: each key
  * is scaled by `floor(key * 2^16 / (max_key + 1))` so the Z-curve
  * always spans its full 32-bit range and all 64 files materialize at
  * every scale factor (a fixed `key mod 2^16` domain degenerates when
  * the observed keys are far below 2^16 — at sf0.01 partkey ≤ 2,000
  * collapses the layout to 1–2 files and a fixed predicate selects
  * none of them). The scaling is exact double arithmetic (products
  * < 2^53) so Spark and DuckDB agree bit-for-bit. The 2-D predicate is
  * cell-aligned — one 1/8 stripe of each scaled dimension — so at any
  * SF the Z-layout must read ≥ 1 but far-from-all files while the
  * linear layout reads the full x-stripe with unbounded y.
  */
object ZOrder {

  val Bits = 16

  /** Morton interleave of the low 16 bits of two BIGINT columns:
    * bit i of x → bit 2i, bit i of y → bit 2i+1. */
  def zValue(x: Column, y: Column): Column =
    (0 until Bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  private val duckZ: String =
    (0 until Bits).map { i =>
      s"(((x16 >> $i) & 1) << ${2 * i}) + (((y16 >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Hilbert-curve index of (`xCol`, `yCol`) ∈ [0,2^bits)² → `out` ∈
    * [0,2^(2·bits)) — the OTHER standard space-filling layout
    * (Hilbert 1891; used by Iceberg/Delta as the higher-locality
    * alternative to Z-order: consecutive indices are ALWAYS adjacent
    * cells, where the Z-curve jumps at quadrant seams). Classic
    * bit-level xy2d: per level s = 2^i, the quadrant digit is
    * (3·rx) xor ry (written as a CASE over 2·rx+ry — engine-portable,
    * no xor builtin needed) and the lower bits rotate/reflect into the
    * quadrant's frame.
    *
    * Plan shape: `bits` chained projections (each level's (x, y, d)
    * derives from the previous — a CHAIN, so the expression tree stays
    * linear in `bits`, where a single nested expression would double
    * per level). Pure per-row arithmetic: no join, no shuffle, exact
    * BIGINT everywhere — write-time layout assignment at 100 TB is
    * `repartitionByRange` on this column, same as Z-order.
    */
  def withHilbert(df: DataFrame, xCol: String, yCol: String, out: String, bits: Int = Bits): DataFrame = {
    var cur = df
      .withColumn("hx", col(xCol))
      .withColumn("hy", col(yCol))
      .withColumn("hd", lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      cur = cur
        .withColumn("rx", when(col("hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("ry", when(col("hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("hd", {
          // quadrant digit (3·rx) xor ry as a CASE over 2·rx+ry:
          // 00→0, 01→1, 10→3, 11→2 (engine-portable, no xor builtin)
          val q = lit(2L) * col("rx") + col("ry")
          col("hd") + lit(s * s) *
            when(q === 0, 0L).when(q === 1, 1L).when(q === 2, 3L).otherwise(2L)
        })
        .withColumn("hx2",
          when(col("ry") === 0,
            when(col("rx") === 1, lit(s - 1) - col("hy")).otherwise(col("hy")))
            .otherwise(col("hx")))
        .withColumn("hy2",
          when(col("ry") === 0,
            when(col("rx") === 1, lit(s - 1) - col("hx")).otherwise(col("hx")))
            .otherwise(col("hy")))
        .withColumn("hx", col("hx2"))
        .withColumn("hy", col("hy2"))
        .drop("hx2", "hy2", "rx", "ry")
    }
    cur.withColumn(out, col("hd")).drop("hx", "hy", "hd")
  }

  /** DuckDB twin of [[withHilbert]]: `bits` chained CTEs h<i>, each one
    * rotation/accumulation level over the previous. New values compute
    * under temp names (nhx/nhy/nhd) in an inner subselect and rename in
    * the outer — no expression ever references a column an earlier
    * alias in the same SELECT list redefines (DuckDB lateral aliases
    * would otherwise shadow the FROM columns mid-list).
    */
  def duckHilbertCtes(from: String, bits: Int = Bits): String = {
    val steps = ((bits - 1) to 0 by -1).map { i =>
      val s = 1L << i
      val prev = if (i == bits - 1) from else s"h${i + 1}"
      s"""h$i AS (
         |  SELECT * EXCLUDE (nhx, nhy, nhd), nhx AS hx, nhy AS hy, nhd AS hd FROM (
         |    SELECT * EXCLUDE (hx, hy, hd),
         |      CASE WHEN ((hy >> $i) & 1) = 0
         |           THEN CASE WHEN ((hx >> $i) & 1) = 1 THEN ${s - 1} - hy ELSE hy END
         |           ELSE hx END AS nhx,
         |      CASE WHEN ((hy >> $i) & 1) = 0
         |           THEN CASE WHEN ((hx >> $i) & 1) = 1 THEN ${s - 1} - hx ELSE hx END
         |           ELSE hy END AS nhy,
         |      hd + CAST(${s * s} AS BIGINT) * (CASE 2 * ((hx >> $i) & 1) + ((hy >> $i) & 1)
         |                       WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 2 END) AS nhd
         |    FROM $prev))""".stripMargin
    }
    steps.mkString(",\n")
  }

  // Cell-aligned 2-D predicate over the SCALED domain: the second 1/8
  // stripe of each dimension — one Z-grid cell, but 8 linear files'
  // worth of x with every y. Aligned to the 8×8 top-bits grid so the
  // contrast (Z reads ~1 cell, linear reads the whole x stripe) holds
  // at every SF once keys are scaled to fill the domain.
  val PLo = 8192L; val PHi = 16384L; val SLo = 8192L; val SHi = 16384L

  /** Per-layout skipping stats: total files, files a 2-D range
    * predicate must read (min/max overlap), and the rows inside them
    * (the scan volume an engine with file stats would actually read). */
  /** (x16, y16) scaled-key projection shared by the layout gates. */
  private def scaledKeys(lineitem: DataFrame): DataFrame = {
    val mx = lineitem.agg(
      max(col("l_partkey")).cast("double").as("__mxp"),
      max(col("l_suppkey")).cast("double").as("__mxs"))
    lineitem.crossJoin(broadcast(mx)).select(
      floor(col("l_partkey").cast("double") * lit(65536.0) / (col("__mxp") + lit(1.0)))
        .cast("long").as("x16"),
      floor(col("l_suppkey").cast("double") * lit(65536.0) / (col("__mxs") + lit(1.0)))
        .cast("long").as("y16"))
  }

  /** One layout's skipping summary over a frame carrying (x16, y16,
    * `fid`).
    */
  private def layoutStats(withFids: DataFrame, fid: String, label: String): DataFrame = {
    val perFile = withFids.groupBy(col(fid).as("fid"))
      .agg(
        count(lit(1)).as("cnt"),
        min("x16").as("min_x"), max("x16").as("max_x"),
        min("y16").as("min_y"), max("y16").as("max_y"))
    val mustRead =
      col("max_x") >= PLo && col("min_x") < PHi &&
        col("max_y") >= SLo && col("min_y") < SHi
    perFile.agg(
      count(lit(1)).as("n_files"),
      sum(when(mustRead, 1L).otherwise(0L)).as("n_files_read"),
      sum(when(mustRead, col("cnt")).otherwise(0L)).as("rows_in_read_files"),
      sum(when(mustRead, col("max_y") - col("min_y")).otherwise(0L)).as("sum_y_span_read"))
      .select(lit(label).as("layout"), col("n_files"), col("n_files_read"),
        col("rows_in_read_files"), col("sum_y_span_read"))
  }

  def zorderSkippingStats(lineitem: DataFrame): DataFrame = {
    val withFids = scaledKeys(lineitem).select(
      col("x16"), col("y16"),
      // z ∈ [0, 2^32): 64 files of 2^26 z-values each
      shiftright(zValue(col("x16"), col("y16")), 26).as("fid_zorder"),
      // linear baseline: 64 equal partkey ranges (2^10 values each)
      shiftright(col("x16"), 10).as("fid_linear"))
    layoutStats(withFids, "fid_zorder", "zorder")
      .unionByName(layoutStats(withFids, "fid_linear", "linear"))
      .orderBy("layout")
  }

  // Seam-straddling predicate for the Hilbert/Z head-to-head: the
  // center window crosses BOTH major quadrant seams, where the curves
  // genuinely differ. Min/max pruning reads the same FILE COUNT under
  // either curve at this granularity — the Hilbert win is CONTIGUITY:
  // consecutive Hilbert indices are always adjacent cells, so the
  // must-read files coalesce into fewer contiguous id runs (= fewer
  // merged scan ranges / seeks on object storage), while the Z-curve
  // jumps at seams and fragments the read set.
  val P2Lo = 16384L; val P2Hi = 49152L; val S2Lo = 16384L; val S2Hi = 49152L

  /** Hilbert vs Z-order head-to-head under the identical seam-
    * straddling 2-D predicate and 64-file budget: files read, rows
    * read, and the number of CONTIGUOUS file-id runs those reads
    * coalesce into. The run count is a lag window over the ≤64-row
    * must-read file list — corpus-independent, single tiny partition
    * by construction.
    */
  def hilbertSkippingStats(lineitem: DataFrame): DataFrame = {
    val withFids = withHilbert(scaledKeys(lineitem), "x16", "y16", "hval")
      .select(
        col("x16"), col("y16"),
        shiftright(col("hval"), 26).as("fid_hilbert"),
        shiftright(zValue(col("x16"), col("y16")), 26).as("fid_zorder"))
    def stats(fid: String, label: String): DataFrame = {
      val perFile = withFids.groupBy(col(fid).as("fid"))
        .agg(
          count(lit(1)).as("cnt"),
          min("x16").as("min_x"), max("x16").as("max_x"),
          min("y16").as("min_y"), max("y16").as("max_y"))
      val mustRead =
        col("max_x") >= P2Lo && col("min_x") < P2Hi &&
          col("max_y") >= S2Lo && col("min_y") < S2Hi
      val nFiles = perFile.agg(count(lit(1)).as("n_files"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("fid")
      perFile.where(mustRead)
        .withColumn("prev_fid", lag("fid", 1).over(w))
        .agg(
          count(lit(1)).as("n_files_read"),
          sum(col("cnt")).as("rows_in_read_files"),
          sum(when(col("prev_fid").isNull || col("fid") =!= col("prev_fid") + 1, 1L)
            .otherwise(0L)).as("n_runs_read"))
        .crossJoin(broadcast(nFiles))
        .select(lit(label).as("layout"), col("n_files"), col("n_files_read"),
          col("rows_in_read_files"), col("n_runs_read"))
    }
    stats("fid_hilbert", "hilbert")
      .unionByName(stats("fid_zorder", "zorder"))
      .orderBy("layout")
  }

  def engineQueries: Seq[EngineQuery] = Seq(
    EngineQuery(
      "zorder_skipping_stats",
      (s, dir) => zorderSkippingStats(Tables.lineitem(s, dir)),
      Some(s"""WITH mx AS (
             |  SELECT CAST(max(l_partkey) AS DOUBLE) AS mxp,
             |         CAST(max(l_suppkey) AS DOUBLE) AS mxs FROM lineitem),
             |base AS (
             |  SELECT
             |    CAST(floor(CAST(l_partkey AS DOUBLE) * 65536.0 / (mxp + 1.0)) AS BIGINT) AS x16,
             |    CAST(floor(CAST(l_suppkey AS DOUBLE) * 65536.0 / (mxs + 1.0)) AS BIGINT) AS y16
             |  FROM lineitem, mx),
             |fids AS (
             |  SELECT x16, y16,
             |    ($duckZ) >> 26 AS fid_zorder,
             |    x16 >> 10 AS fid_linear
             |  FROM base),
             |pz AS (
             |  SELECT fid_zorder AS fid, count(*) AS cnt,
             |    min(x16) AS min_x, max(x16) AS max_x,
             |    min(y16) AS min_y, max(y16) AS max_y
             |  FROM fids GROUP BY 1),
             |pl AS (
             |  SELECT fid_linear AS fid, count(*) AS cnt,
             |    min(x16) AS min_x, max(x16) AS max_x,
             |    min(y16) AS min_y, max(y16) AS max_y
             |  FROM fids GROUP BY 1),
             |sz AS (
             |  SELECT 'zorder' AS layout, count(*) AS n_files,
             |    CAST(sum(CASE WHEN max_x >= $PLo AND min_x < $PHi AND max_y >= $SLo AND min_y < $SHi
             |        THEN 1 ELSE 0 END) AS BIGINT) AS n_files_read,
             |    CAST(sum(CASE WHEN max_x >= $PLo AND min_x < $PHi AND max_y >= $SLo AND min_y < $SHi
             |        THEN cnt ELSE 0 END) AS BIGINT) AS rows_in_read_files,
             |    CAST(sum(CASE WHEN max_x >= $PLo AND min_x < $PHi AND max_y >= $SLo AND min_y < $SHi
             |        THEN max_y - min_y ELSE 0 END) AS BIGINT) AS sum_y_span_read
             |  FROM pz),
             |sl AS (
             |  SELECT 'linear' AS layout, count(*) AS n_files,
             |    CAST(sum(CASE WHEN max_x >= $PLo AND min_x < $PHi AND max_y >= $SLo AND min_y < $SHi
             |        THEN 1 ELSE 0 END) AS BIGINT) AS n_files_read,
             |    CAST(sum(CASE WHEN max_x >= $PLo AND min_x < $PHi AND max_y >= $SLo AND min_y < $SHi
             |        THEN cnt ELSE 0 END) AS BIGINT) AS rows_in_read_files,
             |    CAST(sum(CASE WHEN max_x >= $PLo AND min_x < $PHi AND max_y >= $SLo AND min_y < $SHi
             |        THEN max_y - min_y ELSE 0 END) AS BIGINT) AS sum_y_span_read
             |  FROM pl)
             |SELECT * FROM sz UNION ALL SELECT * FROM sl ORDER BY layout""".stripMargin),
    ),
    EngineQuery(
      "hilbert_skipping_stats",
      (s, dir) => hilbertSkippingStats(Tables.lineitem(s, dir)),
      Some {
        def branch(fidTbl: String, fid: String, label: String): String =
          s"""p_$label AS (
             |  SELECT $fid AS fid, count(*) AS cnt,
             |    min(x16) AS min_x, max(x16) AS max_x,
             |    min(y16) AS min_y, max(y16) AS max_y
             |  FROM $fidTbl GROUP BY 1),
             |nf_$label AS (SELECT count(*) AS n_files FROM p_$label),
             |r_$label AS (
             |  SELECT fid, cnt, lag(fid) OVER (ORDER BY fid) AS prev_fid
             |  FROM p_$label
             |  WHERE max_x >= $P2Lo AND min_x < $P2Hi AND max_y >= $S2Lo AND min_y < $S2Hi),
             |s_$label AS (
             |  SELECT '$label' AS layout, nf_$label.n_files,
             |    CAST(count(*) AS BIGINT) AS n_files_read,
             |    CAST(sum(cnt) AS BIGINT) AS rows_in_read_files,
             |    CAST(sum(CASE WHEN prev_fid IS NULL OR fid <> prev_fid + 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_runs_read
             |  FROM r_$label, nf_$label GROUP BY nf_$label.n_files)""".stripMargin
        s"""WITH mx AS (
           |  SELECT CAST(max(l_partkey) AS DOUBLE) AS mxp,
           |         CAST(max(l_suppkey) AS DOUBLE) AS mxs FROM lineitem),
           |base AS (
           |  SELECT
           |    CAST(floor(CAST(l_partkey AS DOUBLE) * 65536.0 / (mxp + 1.0)) AS BIGINT) AS x16,
           |    CAST(floor(CAST(l_suppkey AS DOUBLE) * 65536.0 / (mxs + 1.0)) AS BIGINT) AS y16
           |  FROM lineitem, mx),
           |hstart AS (SELECT x16, y16, x16 AS hx, y16 AS hy, CAST(0 AS BIGINT) AS hd FROM base),
           |${duckHilbertCtes("hstart")},
           |fids AS (
           |  SELECT x16, y16,
           |    hd >> 26 AS fid_hilbert,
           |    ($duckZ) >> 26 AS fid_zorder
           |  FROM h0),
           |${branch("fids", "fid_hilbert", "hilbert")},
           |${branch("fids", "fid_zorder", "zorder")}
           |SELECT * FROM s_hilbert UNION ALL SELECT * FROM s_zorder ORDER BY layout""".stripMargin
      },
    ),
  )
}
