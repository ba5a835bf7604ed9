package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery._
import graft.agg.{Biovolume, PsdFit}

/** Domain aggregates (SURVEY.md §2.4 A17/A18) and the grouping-sets
  * replacement for the reference's year×classifier outer loops (§2.4
  * note at SURVEY.md:187-189), demonstrated on the synthetic tables:
  * lineitem rows stand in for per-ROI feature rows.
  */
object Domain {

  import Tables._

  /** A18 biovolume/carbon rollup (ifcb_summarize_biovolumes;
    * shark.R:224-233): per-ROI carbon from the MDL2000 piecewise power law
    * computed *before* the grouped sum (map-side combine applies), then
    * per-(sample, class) counts, volume, carbon, per-liter scaling from a
    * sample-grain dim join. Per-row carbon is rounded to 4 decimals before
    * the exact decimal sum so the result is partitioning- and
    * engine-independent.
    */
  private val q37 = GraftQuery(
    "q37_biovolume_rollup",
    (s, d) => {
      import s.implicits._
      val ml = orders(s, d).select($"o_orderkey", ($"o_totalprice" / 10000.0).as("ml_analyzed"))
      val roi = lineitem(s, d)
        .withColumn("vol_um3", $"l_extendedprice" / 10.0)
        .withColumn("carbon_pg",
          round(Biovolume.carbonPg($"l_returnflag" === "A", $"vol_um3"), 4))
      roi
        .groupBy($"l_orderkey", $"l_returnflag")
        .agg(
          count(lit(1)).as("counts"),
          dsum($"vol_um3", D4).as("sum_vol_um3"),
          dsum($"carbon_pg", D4).as("carbon_pg_total"))
        .join(ml, $"l_orderkey" === $"o_orderkey")
        .select(
          $"l_orderkey".as("sample"), $"l_returnflag".as("class"),
          $"counts", $"sum_vol_um3",
          ($"carbon_pg_total" / 1e6).as("carbon_ug"),
          Biovolume.perLiter($"counts", $"ml_analyzed").as("counts_per_liter"),
          Biovolume.perLiter($"carbon_pg_total" / 1e6, $"ml_analyzed").as("carbon_ug_per_liter"))
        .orderBy($"sample", $"class")
    },
    Some("""
      SELECT l_orderkey AS sample, l_returnflag AS class,
        COUNT(*) AS counts,
        CAST(SUM(CAST(l_extendedprice / 10.0 AS DECIMAL(18,4))) AS DOUBLE) AS sum_vol_um3,
        CAST(SUM(CAST(ROUND(CASE
            WHEN l_returnflag = 'A' THEN 0.288 * POW(l_extendedprice / 10.0, 0.811)
            WHEN l_extendedprice / 10.0 > 3000.0 THEN 0.117 * POW(l_extendedprice / 10.0, 0.881)
            ELSE 0.216 * POW(l_extendedprice / 10.0, 0.939) END, 4) AS DECIMAL(18,4))) AS DOUBLE) / 1e6 AS carbon_ug,
        -- NULLIF mirrors Biovolume.perLiter's ml<>0 gate (round-13
        -- review): an aborted sample's ml=0 must read NULL on BOTH
        -- engines, not DuckDB's IEEE Infinity
        COUNT(*) / NULLIF(o_totalprice / 10000.0, 0.0) * 1000.0 AS counts_per_liter,
        CAST(SUM(CAST(ROUND(CASE
            WHEN l_returnflag = 'A' THEN 0.288 * POW(l_extendedprice / 10.0, 0.811)
            WHEN l_extendedprice / 10.0 > 3000.0 THEN 0.117 * POW(l_extendedprice / 10.0, 0.881)
            ELSE 0.216 * POW(l_extendedprice / 10.0, 0.939) END, 4) AS DECIMAL(18,4))) AS DOUBLE) / 1e6
          / NULLIF(o_totalprice / 10000.0, 0.0) * 1000.0 AS carbon_ug_per_liter
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_orderkey, l_returnflag, o_totalprice
      ORDER BY sample, class"""))

  /** Shared q38/q88 PSD fit inputs — ONE source for the histogram and
    * moment-sum discipline (bucket ≥ 1, ln-ln terms, decimal D12 sums)
    * on both engines (round-13 review: the two copies had already
    * drifted cosmetically and a future fit-input fix applied to one
    * would silently leave the other computing different fits).
    * `psdHist` is the Spark side; [[psdMomentsSql]] renders the
    * hist/lg/m oracle CTEs, `withPeak` adding q88's packed peak column.
    */
  private def psdHist(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    lineitem(s, d)
      .withColumn("bucket", floor(col("l_quantity") / 5.0))
      .filter(col("bucket") >= 1)
      .groupBy(col("l_suppkey"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lnx", log((col("bucket") + 0.5) * 5.0))
      .withColumn("lny", log(col("n").cast("double")))

  /** Delegates to [[graft.agg.PsdFit.moments]] — the single source of
    * the complete-pair/decimal-sum moment discipline (round-14 review:
    * this was a second hand-copy of the same battery that a future
    * discipline fix would silently miss) — renamed to this file's
    * column names. lnx/lny are non-null here by construction, so the
    * pair guard inside moments is a no-op.
    */
  private def psdMomentCols: Seq[org.apache.spark.sql.Column] = {
    val renames = Map("fit_sx" -> "sx", "fit_sy" -> "sy",
      "fit_sxx" -> "sxx", "fit_sxy" -> "sxy", "fit_syy" -> "syy")
    graft.agg.PsdFit.moments(col("lnx"), col("lny")).map { case (n, c) =>
      c.as(renames.getOrElse(n, n))
    }
  }

  private def psdMomentsSql(withPeak: Boolean): String = {
    val pk = if (withPeak) "\n          MAX(n * 1000000 + (999999 - bucket)) AS pk," else ""
    s"""hist AS (
        SELECT l_suppkey, CAST(FLOOR(l_quantity / 5.0) AS BIGINT) AS bucket,
          COUNT(*) AS n
        FROM lineitem
        GROUP BY 1, 2
        HAVING CAST(FLOOR(l_quantity / 5.0) AS BIGINT) >= 1),
      lg AS (
        SELECT l_suppkey, bucket, n,
          LN((bucket + 0.5) * 5.0) AS lnx, LN(CAST(n AS DOUBLE)) AS lny
        FROM hist),
      m AS (
        SELECT l_suppkey AS sample, CAST(SUM(n) AS BIGINT) AS total_count,$pk
          CAST(COUNT(*) AS DOUBLE) AS k, COUNT(*) AS n_bins,
          CAST(SUM(CAST(lnx AS DECIMAL(28,12))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(lny AS DECIMAL(28,12))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(lnx * lnx AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(lnx * lny AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(lny * lny AS DECIMAL(28,12))) AS DOUBLE) AS syy
        FROM lg GROUP BY 1)"""
  }

  /** A17 PSD power-law fit (ifcb_psd, Rmd:652-669): per-sample size
    * histogram → OLS fit of ln(n) = ln(a) − k·ln(size) → params + R² +
    * rule flags. Pure moment sums (order/partitioning independent); the
    * typed-Aggregator twin lives in [[graft.agg.PsdFit]] with golden
    * tests.
    */
  private val q38 = GraftQuery(
    "q38_psd_fit",
    (s, d) => {
      import s.implicits._
      val hist = psdHist(s, d)
      val agged = hist.groupBy($"l_suppkey").agg(
        sum($"n").as("total_count"),
        psdMomentCols: _*)
      val (slope, intercept, r2) = PsdFit.solveCols(
        $"fit_n".cast("double"), $"sx", $"sy", $"sxx", $"sxy", $"syy")
      agged
        .select(
          $"l_suppkey".as("sample"), $"total_count", $"fit_n".as("n_bins"),
          round(slope, 6).as("slope"),
          round(intercept, 6).as("intercept"),
          round(r2, 6).as("r2"))
        .withColumn("flag", PsdFit.flag($"slope", $"r2", $"total_count"))
        .orderBy($"sample")
    },
    Some(s"""
      WITH ${psdMomentsSql(withPeak = false)}
      SELECT sample, total_count, n_bins,
        ROUND(CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
          THEN (k * sxy - sx * sy) / (k * sxx - sx * sx) END, 6) AS slope,
        ROUND(CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
          THEN (sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k END, 6) AS intercept,
        ROUND(CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0 AND k * syy - sy * sy = 0.0 THEN 1.0
          WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
          THEN (k * sxy - sx * sy) * (k * sxy - sx * sy)
               / ((k * sxx - sx * sx) * (k * syy - sy * sy)) END, 6) AS r2,
        CASE WHEN total_count < 50 THEN 'incomplete'
             -- degenerate fit (slope/r2 NULL): explicit flat_psd, the
             -- twin of PsdFit.flag's isNull branch (round-12 review)
             WHEN k < 2 OR k * sxx - sx * sx = 0.0 THEN 'flat_psd'
             WHEN ROUND(CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0 AND k * syy - sy * sy = 0.0 THEN 1.0
               WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
               THEN (k * sxy - sx * sy) * (k * sxy - sx * sy)
                    / ((k * sxx - sx * sx) * (k * syy - sy * sy)) END, 6) < 0.55 THEN 'poor_fit'
             WHEN ROUND(CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
               THEN (k * sxy - sx * sy) / (k * sxx - sx * sx) END, 6) > -0.1 THEN 'flat_psd'
             ELSE 'ok' END AS flag
      FROM m
      ORDER BY sample"""))

  /** §2.4 note: GROUPING SETS / ROLLUP replaces the reference's outer
    * for-loops over years×classifiers (Rmd:1078) — one shuffle computes
    * every breakdown level.
    */
  private val q39 = GraftQuery(
    "q39_rollup_breakdowns",
    (s, d) => {
      import s.implicits._
      orders(s, d)
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  /** The flagship HAB-alert spine (SURVEY.md §7.5; hab_alert.R:102-119,
    * 197-200) as an oracle-checked query: per brand ("taxon"), the
    * top-concentration lineitem, joined to a warning-level dim, flagged
    * where it exceeds — with engine-exact decimal math in the dim.
    */
  private val q40 = GraftQuery(
    "q40_hab_alert",
    (s, d) => {
      import s.implicits._
      val warn = part(s, d).groupBy($"p_brand")
        .agg(((dsum($"p_retailprice") / count(lit(1))) * 20.0).as("warning_level"))
      val w = Window.partitionBy($"p_brand")
        .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      lineitem(s, d)
        .join(broadcast(part(s, d).select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .join(broadcast(warn), Seq("p_brand"))
        .select($"p_brand", $"l_orderkey", $"l_extendedprice", $"warning_level",
          ($"l_extendedprice" > $"warning_level").as("alert"))
        .orderBy($"p_brand")
    },
    Some("""
      WITH warn AS (
        SELECT p_brand,
          CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 20.0 AS warning_level
        FROM part GROUP BY 1),
      top AS (
        SELECT p_brand, l_orderkey, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p_brand
          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) = 1)
      SELECT t.p_brand, l_orderkey, l_extendedprice, warning_level,
        l_extendedprice > warning_level AS alert
      FROM top t JOIN warn ON t.p_brand = warn.p_brand
      ORDER BY t.p_brand"""))

  /** The flagship SHARK delivery DAG end-to-end (§3.1,
    * ifcb-data-pipeline.Rmd:1094-1297): [[graft.jobs.SharkExport.delivery]]
    * on the synthetic instantiation — A18 rollup × J1 broadcast star ×
    * P4 flag filter × W1 sample-grain adjacency drop × the fixed
    * delivery projection. Every piece is SQL-expressible, so the whole
    * composed job gets a DuckDB mirror: the one surface where previously
    * only ScalaTest stood between a refactor and silent semantic drift.
    */
  private val q73 = GraftQuery(
    "q73_shark_delivery",
    (s, d) => {
      import s.implicits._
      val li = lineitem(s, d)
      val or = orders(s, d)
      val roi = li.select(
        concat(lit("S"), $"l_orderkey").as("sample"),
        $"l_returnflag".as("class_name"),
        ($"l_extendedprice" / 10.0).as("vol_um3"),
        ($"l_returnflag" === "A").as("is_diatom"))
      val dim = or.select(
        concat(lit("S"), $"o_orderkey").as("sample"),
        ($"o_totalprice" / 10000.0).as("ml_analyzed"),
        lit(57.5).as("lat"), lit(11.8).as("lon"))
      val flags = or.filter($"o_orderkey" % 97 === 0).select(
        concat(lit("S"), $"o_orderkey").as("sample"),
        when($"o_orderkey" % 2 === 0, "bubbles").otherwise("beads").as("flag"))
      graft.jobs.SharkExport.delivery(roi, dim, flags,
          removeFlagged = Seq("beads"),
          adjacencyPartition = substring($"sample", 1, 3))
        .drop("MYEAR") // synthetic sample ids carry no timestamp
        .orderBy($"SMPNO", $"LATNM")
    },
    Some("""
      WITH roi AS (
        SELECT 'S' || CAST(l_orderkey AS VARCHAR) AS sample,
               l_returnflag AS class_name,
               l_extendedprice / 10.0 AS vol_um3,
               (l_returnflag = 'A') AS is_diatom
        FROM lineitem),
      rolled AS (
        SELECT sample, class_name, COUNT(*) AS counts,
          CAST(SUM(CAST(vol_um3 AS DECIMAL(18,4))) AS DOUBLE) AS biovolume_um3,
          CAST(SUM(CAST(ROUND(CASE
              WHEN is_diatom THEN 0.288 * POW(vol_um3, 0.811)
              WHEN vol_um3 > 3000.0 THEN 0.117 * POW(vol_um3, 0.881)
              ELSE 0.216 * POW(vol_um3, 0.939) END, 4) AS DECIMAL(18,4))) AS DOUBLE)
            AS carbon_pg
        FROM roi GROUP BY 1, 2),
      dim AS (
        SELECT 'S' || CAST(o_orderkey AS VARCHAR) AS sample,
               o_totalprice / 10000.0 AS ml_analyzed, 57.5 AS lat, 11.8 AS lon
        FROM orders),
      flags AS (
        SELECT 'S' || CAST(o_orderkey AS VARCHAR) AS sample,
               CASE WHEN o_orderkey % 2 = 0 THEN 'bubbles' ELSE 'beads' END AS flag
        FROM orders WHERE o_orderkey % 97 = 0),
      -- per-sample aggregated flag string, mirroring the Spark side's
      -- sorted concat_ws: joining the raw multi-row flags table would
      -- fan out rolled rows the moment a sample carries two flags
      fagg AS (
        SELECT sample, string_agg(flag, ', ' ORDER BY flag) AS flag
        FROM flags GROUP BY 1),
      adj AS (
        SELECT sample,
          COALESCE(LAG(bub) OVER (PARTITION BY substr(sample, 1, 3) ORDER BY sample),
            FALSE)
          OR COALESCE(LEAD(bub) OVER (PARTITION BY substr(sample, 1, 3) ORDER BY sample),
            FALSE) AS drop_adj
        FROM (
          SELECT s.sample, contains(lower(COALESCE(f.flag, '')), 'bubbles') AS bub
          FROM (SELECT DISTINCT sample FROM rolled) s
          LEFT JOIN fagg f USING (sample)) b)
      SELECT r.sample AS "SMPNO", d.lat AS "LATIT", d.lon AS "LONGI",
        r.class_name AS "LATNM", r.counts AS "COUNTNR",
        r.counts / NULLIF(d.ml_analyzed, 0.0) * 1000.0 AS "ABUND",
        r.biovolume_um3 / 1e9 AS "BIOVOL",
        r.carbon_pg / 1e6 / NULLIF(d.ml_analyzed, 0.0) * 1000.0 AS "C_CONC"
      FROM rolled r
      LEFT JOIN dim d USING (sample)
      LEFT JOIN fagg f USING (sample)
      JOIN adj USING (sample)
      WHERE NOT contains(lower(COALESCE(f.flag, '')), 'beads') AND NOT drop_adj
      ORDER BY "SMPNO", "LATNM""""))

  /** A17 full: the reference's 7-threshold PSD QC rule set
    * ([[graft.agg.PsdFit.flags7]]; `ifcb_psd` thresholds at
    * ifcb_ingest_and_qc.R:505-516) over q38's histograms plus synthetic
    * per-sample instrument metrics derived from the supplier dim —
    * analyzed volume, humidity, and an ADC trigger inventory. The peak
    * size class comes from an exact integer (count, −bin) encoding inside
    * the same aggregate as the totals (no window, no second shuffle), and
    * the thresholds are tuned so the whole reference flag vocabulary —
    * Beads, Bubbles, Incomplete Run, Missing Cells, Low Biomass, Bloom,
    * High Humidity, Poor Fit — is reachable on this data. Every metric
    * feeding a float compare is integer-derived or an identical
    * expression tree on both engines.
    */
  private val q88 = GraftQuery(
    "q88_psd_flags_full",
    (s, d) => {
      import s.implicits._
      val p = graft.agg.PsdFit.FlagParams(
        rSqr = 0.5, beads = 90.0, bubbles = 40.0,
        incompleteCount = 500L, incompleteVolumeMl = 3.0,
        missingCells = 0.5, biomass = 150.0, bloom = 10.0, humidity = 75.0)
      val hist = psdHist(s, d)
      val enc = $"n" * 1000000L + (lit(999999L) - $"bucket")
      val agged = hist.groupBy($"l_suppkey").agg(
        sum($"n").as("total_count"),
        max(enc).as("pk") +: psdMomentCols: _*)
        .withColumn("peak_n", floor($"pk" / 1000000L))
        .withColumn("peak_esd",
          ((lit(999999L) - pmod($"pk", lit(1000000L))).cast("double") + 0.5) * 5.0)
      val dim = supplier(s, d).select(
        $"s_suppkey",
        (lit(2.0) + ($"s_suppkey" % 4).cast("double")).as("ml_analyzed"),
        (lit(50.0) + ($"s_suppkey" % 37).cast("double")).as("humidity"),
        ($"s_suppkey" % 3).as("__tmul"))
      val joined = agged
        .join(broadcast(dim), $"l_suppkey" === $"s_suppkey")
        .withColumn("trigger_count",
          $"total_count" * (lit(1L) + $"__tmul"))
      val (slope, intercept, r2) = PsdFit.solveCols(
        $"fit_n".cast("double"), $"sx", $"sy", $"sxx", $"sxy", $"syy")
      joined
        .select(
          $"l_suppkey".as("sample"), $"total_count", $"fit_n".as("n_bins"),
          $"peak_n", $"peak_esd", $"ml_analyzed", $"humidity", $"trigger_count",
          round(slope, 6).as("slope"),
          round(intercept, 6).as("intercept"),
          round(r2, 6).as("r2"),
          PsdFit.flags7(p, startFitUm = 7.5)(
            r2, $"peak_esd", $"peak_n", $"total_count",
            $"trigger_count", $"ml_analyzed", $"humidity").as("flag"))
        .orderBy($"sample")
    },
    Some(s"""
      WITH ${psdMomentsSql(withPeak = true)},
      j AS (
        SELECT m.*,
          CAST(pk // 1000000 AS BIGINT) AS peak_n,
          (CAST(999999 - (pk % 1000000) AS DOUBLE) + 0.5) * 5.0 AS peak_esd,
          2.0 + CAST(s_suppkey % 4 AS DOUBLE) AS ml_analyzed,
          50.0 + CAST(s_suppkey % 37 AS DOUBLE) AS humidity,
          total_count * (1 + s_suppkey % 3) AS trigger_count
        FROM m JOIN supplier ON sample = s_suppkey),
      sv AS (
        SELECT j.*,
          CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
            THEN (k * sxy - sx * sy) / (k * sxx - sx * sx) END AS slope_raw,
          CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0.0 AND k * syy - sy * sy = 0.0 THEN 1.0
            WHEN k >= 2 AND k * sxx - sx * sx <> 0.0
            THEN (k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)) END AS r2_raw
        FROM j)
      SELECT sample, total_count, n_bins, peak_n, peak_esd,
        ml_analyzed, humidity, trigger_count,
        ROUND(slope_raw, 6) AS slope,
        ROUND((sy - slope_raw * sx) / k, 6) AS intercept,
        ROUND(r2_raw, 6) AS r2,
        CASE WHEN peak_n > 90.0 THEN 'Beads'
             WHEN peak_esd > 40.0 THEN 'Bubbles'
             WHEN total_count < 500 OR ml_analyzed < 3.0 THEN 'Incomplete Run'
             WHEN CAST(total_count AS DOUBLE) / trigger_count < 0.5 THEN 'Missing Cells'
             WHEN total_count / ml_analyzed < 150.0 THEN 'Low Biomass'
             WHEN peak_esd - 7.5 > 10.0 THEN 'Bloom'
             WHEN humidity > 75.0 THEN 'High Humidity'
             -- null r2 = unfittable PSD fires Poor Fit, the twin of
             -- flags7's degenerate-fit branch (round-12 review)
             WHEN r2_raw IS NULL OR r2_raw < 0.5 THEN 'Poor Fit'
             ELSE 'ok' END AS flag
      FROM sv
      ORDER BY sample"""))

  /** The second flagship job end-to-end (§3.2,
    * ifcb-image-export-pipeline.Rmd:474-830): the full ~260-column EcoTaxa
    * contract projection ([[graft.jobs.EcoTaxaExport.project]]) on a
    * synthetic instantiation — ROI grain from lineitem, class metadata
    * broadcast from part, sample metadata joined from orders — then the
    * per-category rollup a delivery reviewer would check. The aggregate
    * pins the projection's semantic edges in one oracle row set:
    * extension-strip (`object_id`), colon-strip (`object_time`), EcoTaxa
    * folder truncation (first comma segment), feature pass-through
    * (`object_area`), the derived ratio columns (`object_h90_over_hflip`),
    * and the NA pre-fill (a mapped-from-nothing `ring01` must stay all
    * null — if the mapping ever mis-wires it, the count goes nonzero and
    * the hash breaks). The K2 per-class TSV layout itself stays pinned by
    * EcoTaxaExportSpec (format codes, golden header).
    *
    * Plan-audit note (round 7): this is the bench's most expensive query
    * (~5 s at sf0.1) and that cost is semantic, not structural — measured
    * breakdown: numeric-only agg 0.9 s; +string mins ≈ +1.5 s (string agg
    * buffers are UnsafeRow-immutable, so Spark plans SortAggregate);
    * +countDistinct over 600k ROI-grain string sample ids ≈ +1.5 s (the
    * two-level distinct rewrite). Forcing ObjectHashAggregate (no sorts)
    * was measured at only −0.6 s, so the sort is not the bottleneck and
    * the plan keeps the structure that matters at scale: pruned 5-column
    * scan, both dims broadcast, partial aggregation before the single
    * category-keyed exchange.
    *
    * Round-20 addendum (r19 verdict task 6, guide §4/§5): the r7 note
    * under-weighted the operator choice. The two string mins were the
    * ONLY reason all four aggregation phases planned as SortAggregate —
    * at 100 TB a sort-based aggregate over UnsafeRow string buffers is
    * a spill risk, and at bench SF the map-side Sort of the full joined
    * input dominated. Both mins now run over order-isomorphic LONG
    * carriers ([[graft.functions.Strings.lexCarrier]]: object_id's
    * variable tail is digits+'_' behind the constant "D2024_IFCB134_"
    * prefix, which drops out of the comparison; object_time is a fixed
    * 6-digit string, so a plain long cast carries it) and decode back
    * to the exact strings after the aggregate — every phase is now
    * whole-stage-codegen HashAggregate, zero Sorts before the display
    * orderBy. A same-JVM A/B probe (OPTIMIZATION_r20.md) and the
    * oracle (hash-identical at sf0.01 AND sf0.1) carry the evidence;
    * the countDistinct stays keyed on the sample_id STRING — the r19
    * ProbeQ90 measurement showed key width is immaterial there.
    */
  private val q90 = GraftQuery(
    "q90_ecotaxa_export",
    (s, d) => {
      import s.implicits._
      val roi = lineitem(s, d).select(
        $"l_partkey", $"l_orderkey",
        concat(lit("D2024_IFCB134_"), $"l_orderkey", lit("_"),
          $"l_linenumber", lit(".png")).as("image"),
        $"l_linenumber".as("roi"),
        ($"l_extendedprice" / 100.0).as("Area"),
        ($"l_extendedprice" / 10.0).as("Biovolume"),
        ($"l_quantity" * 3.0).as("Perimeter"),
        ($"l_quantity" * 2.0).as("h90"),
        ($"l_quantity" + 1.0).as("hflip"))
      val cls = part(s, d).select($"p_partkey",
        concat($"p_brand", lit(", living")).as("subfolder"),
        $"p_type".as("class_clean"),
        $"p_size".as("aphia_id"))
      val smp = orders(s, d).select($"o_orderkey",
        concat(lit("S"), $"o_orderkey").as("sample_name"),
        concat(lit("R/V-"), $"o_custkey").as("ship"),
        concat(lpad(($"o_orderkey" % 24).cast("string"), 2, "0"),
          lit(":15:00")).as("time"))
      val input = roi
        .join(broadcast(cls), $"l_partkey" === $"p_partkey")
        .join(smp, $"l_orderkey" === $"o_orderkey")
      val projected = graft.jobs.EcoTaxaExport.project(input)
        .withColumn("object_annotation_category",
          graft.jobs.EcoTaxaExport.truncateCategory(
            $"object_annotation_category"))
      projected.groupBy($"object_annotation_category")
        .agg(
          count(lit(1)).as("n"),
          dsum($"object_area", D4).as("area_sum"),
          dsum($"object_h90_over_hflip", D6).as("ratio_sum"),
          count($"object_ring01").as("ring01_nonnull"),
          // long-carrier mins, not string mins (round-20 addendum
          // above): substring length 16 so a >15-char tail reaches
          // lexCarrier's loud length guard instead of being truncated
          min(graft.functions.Strings.lexCarrier(
            substring($"object_id", 15, 16))).as("__id_min"),
          min($"object_time".cast("long")).as("__time_min"),
          countDistinct($"sample_id").as("samples"))
        .select($"object_annotation_category".as("category"), $"n",
          $"area_sum", $"ratio_sum", $"ring01_nonnull",
          concat(lit("D2024_IFCB134_"),
            graft.functions.Strings.lexCarrierDecode($"__id_min"))
            .as("first_object_id"),
          lpad($"__time_min".cast("string"), 6, "0").as("first_time"),
          $"samples")
        .orderBy($"category")
    },
    Some(s"""
      WITH input AS (
        SELECT
          'D2024_IFCB134_' || CAST(l.l_orderkey AS VARCHAR) || '_' ||
            CAST(l.l_linenumber AS VARCHAR) || '.png' AS image,
          l.l_extendedprice / 100.0 AS area,
          l.l_quantity * 2.0 AS h90, l.l_quantity + 1.0 AS hflip,
          p.p_brand || ', living' AS subfolder,
          'S' || CAST(o.o_orderkey AS VARCHAR) AS sample_name,
          lpad(CAST(o.o_orderkey % 24 AS VARCHAR), 2, '0') || ':15:00' AS tm
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey),
      proj AS (
        SELECT
          trim(split_part(subfolder, ',', 1)) AS category,
          regexp_replace(image, '\\.[^.]*$$', '') AS object_id,
          replace(tm, ':', '') AS object_time,
          area AS object_area,
          h90 / hflip AS ratio,
          CAST(NULL AS VARCHAR) AS object_ring01,
          sample_name AS sample_id
        FROM input)
      SELECT category, COUNT(*) AS n,
        ${dsumSql("object_area", D4)} AS area_sum,
        ${dsumSql("ratio", D6)} AS ratio_sum,
        COUNT(object_ring01) AS ring01_nonnull,
        MIN(object_id) AS first_object_id,
        MIN(object_time) AS first_time,
        COUNT(DISTINCT sample_id) AS samples
      FROM proj
      GROUP BY 1
      ORDER BY 1"""))

  /** PACE plankton-group biomass prep (code/plot/plot_PACE.R:14-28):
    * drop unclassified rows (`filter(!is.na(LATNM))`), assign each taxon
    * to a plankton group (`assign_phytoplankton_group` — here a
    * deterministic conditional over the class stand-ins), sum carbon per
    * (year, cruise, datetime, sample, group), then roll samples up to
    * the cruise-datetime grain the stacked-area render consumes
    * ([[graft.sources.Charts.stackedAreaChartSvg]]).
    *
    * Stand-ins: lineitem = per-taxon observation rows (`l_returnflag` ×
    * `l_linestatus` = taxon, `N*` = unclassified, carbon =
    * `l_extendedprice / 1000`), orders = the sample dim (`o_orderkey` =
    * SMPNO, `o_orderpriority` = CRUISE_NO, `o_orderdate` = datetime).
    *
    * Scale shape: the group assignment is a map-side expression; the
    * decimal sums partial-aggregate at final (sample-date, group) grain
    * before the single rollup shuffle (exact decimal arithmetic is
    * associative, so the per-sample intermediate grain the reference
    * materializes is algebraically folded away — r19). The dim
    * join keys on orderkey — sample dims at 100 TB are the small side
    * and would broadcast, but lineitem→orders is the engine's standard
    * fact-dim shuffle join and AQE picks broadcast when the dim fits.
    * Sums are decimal end-to-end (the [[graft.GraftQuery.dsum]]
    * discipline) so the two-level sum is order-independent.
    */
  private val q96 = GraftQuery(
    "q96_plankton_group_biomass",
    (s, d) => {
      import s.implicits._
      val taxon = concat($"l_returnflag", $"l_linestatus")
      val obs = lineitem(s, d)
        .filter($"l_returnflag" =!= "N") // unclassified analog
        .withColumn("plankton_group",
          when(taxon === "AF", "Bacillariophyceae")
            .when(taxon === "AO", "Dinophyceae")
            .when(taxon === "RF", "Cyanophyceae")
            .otherwise("Other"))
      val sample = orders(s, d).select(
        $"o_orderkey",
        year($"o_orderdate").as("myear"),
        $"o_orderpriority".as("cruise_no"),
        $"o_orderdate".as("datetime"))
      // ONE grouped sum, not per-sample-then-rollup (optimization round
      // 19, guide §2.3/§2.4): the old shape grouped by (…, o_orderkey,
      // group) first — ~order-count groups, so the map-side partial
      // barely reduced and the exchange carried near input-size rows —
      // then re-shuffled on the sample-free key for the rollup. Decimal
      // sums are exact and associative, so folding both levels into one
      // groupBy produces the bit-identical result (oracle-proved) while
      // shuffling partial sums at FINAL grain and dropping a whole
      // exchange + aggregate pair. Scale 6, not 4: /1000 yields
      // 5-decimal values, and rounding them to 4 decimals hits exact .5
      // ties that Spark (half-up) and DuckDB (half-even) break
      // differently; at scale 6 the cast is exact and engine-independent
      obs.join(sample, $"l_orderkey" === $"o_orderkey")
        .groupBy($"myear", $"cruise_no", $"datetime", $"plankton_group")
        .agg(sum(($"l_extendedprice" / 1000.0).cast(D6))
            .cast("double").as("biomass"),
          sum($"l_quantity".cast(D4)).cast("double").as("biovol"))
        .orderBy($"myear", $"cruise_no", $"datetime", $"plankton_group")
    },
    Some("""
      WITH obs AS (
        SELECT o.myear, o.cruise_no, o.datetime, l.l_orderkey,
          CASE l_returnflag || l_linestatus
            WHEN 'AF' THEN 'Bacillariophyceae'
            WHEN 'AO' THEN 'Dinophyceae'
            WHEN 'RF' THEN 'Cyanophyceae'
            ELSE 'Other' END AS plankton_group,
          l_extendedprice / 1000.0 AS c_conc, l_quantity
        FROM lineitem l
        JOIN (SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS myear,
                o_orderpriority AS cruise_no, o_orderdate AS datetime
              FROM orders) o ON l.l_orderkey = o.o_orderkey
        WHERE l_returnflag <> 'N'),
      per_sample AS (
        SELECT myear, cruise_no, datetime, l_orderkey, plankton_group,
          SUM(CAST(c_conc AS DECIMAL(18,6))) AS biomass,
          SUM(CAST(l_quantity AS DECIMAL(18,4))) AS biovol
        FROM obs GROUP BY 1, 2, 3, 4, 5)
      SELECT myear, cruise_no, datetime, plankton_group,
        CAST(SUM(biomass) AS DOUBLE) AS biomass,
        CAST(SUM(biovol) AS DOUBLE) AS biovol
      FROM per_sample
      GROUP BY 1, 2, 3, 4
      ORDER BY 1, 2, 3, 4"""))

  /** Poster occurrence counts (code/plot/plots-poster.R:46-57): remap
    * the merged multi-taxon class names onto single WoRMS classes (the
    * six `mutate(class = ifelse(CLASS_NAME == …))` rules), drop rows
    * with no class (`filter(!is.na(class))`), count per class, and sort
    * ascending the way `reorder(class, count)` orders the bars for
    * [[graft.sources.Charts.barChartSvg]]. Pure map-side remap + one
    * grouped count — the 100 TB shape is a partial-aggregated single
    * shuffle over a handful of classes.
    */
  private val q97 = GraftQuery(
    "q97_class_occurrences",
    (s, d) => {
      import s.implicits._
      val taxon = concat($"l_returnflag", $"l_linestatus")
      lineitem(s, d)
        .withColumn("class",
          when(taxon === "NO", lit(null).cast("string")) // no WoRMS class
            .when(taxon.isin("AF", "NF"), "Bacillariophyceae")
            .when(taxon === "RF", "Dinophyceae")
            .when(taxon === "RO", "Cyanophyceae")
            .otherwise("Bacillariophyceae"))
        .filter($"class".isNotNull)
        .groupBy($"class")
        .agg(count(lit(1)).as("count"))
        .orderBy($"count", $"class")
    },
    Some("""
      SELECT CASE l_returnflag || l_linestatus
          WHEN 'AF' THEN 'Bacillariophyceae'
          WHEN 'NF' THEN 'Bacillariophyceae'
          WHEN 'RF' THEN 'Dinophyceae'
          WHEN 'RO' THEN 'Cyanophyceae'
          ELSE 'Bacillariophyceae' END AS class,
        COUNT(*) AS count
      FROM lineitem
      WHERE l_returnflag || l_linestatus <> 'NO'
      GROUP BY 1
      ORDER BY 2, 1"""))

  val all: Seq[GraftQuery] = Seq(q37, q38, q39, q40, q73, q88, q90, q96, q97)
}
