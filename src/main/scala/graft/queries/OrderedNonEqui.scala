package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Frames, GraftQuery, Tables}
import graft.GraftQuery._
import graft.functions.Geo
import graft.operators.{AsOfJoin, IntervalJoin}

/** Ordered-window and non-equi-join battery (SURVEY.md §2.3 J3/J4/J7/J8/
  * J11, §2.4 A13, §2.5 W1/W2/W4, §2.7 set ops). The two non-equi joins go
  * through the bucketed operators in graft.operators so they plan as hash
  * joins, not broadcast-nested-loop — the shape that survives 100 TB.
  */
object OrderedNonEqui {

  import Tables._

  /** W1 adjacent-row contamination (Rmd:1268-1297; shark.R:412-440): a row
    * whose neighbor (±1 in the per-key time order) is an 'error' is dropped
    * along with the error row itself. Partitioned by user so the sort is
    * distributed (SURVEY.md §4: never a global single-partition window).
    */
  private val q21 = GraftQuery(
    "q21_adjacent_contamination",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      events(s, d)
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .withColumn("next_type", lead($"event_type", 1).over(w))
        .filter(!($"event_type" === "error" ||
          coalesce($"prev_type" === "error", lit(false)) ||
          coalesce($"next_type" === "error", lit(false))))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id, COUNT(*) AS n_kept FROM (
        SELECT user_id, event_type,
          LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
          LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events) t
      WHERE NOT (event_type = 'error'
        OR COALESCE(prev_type = 'error', FALSE)
        OR COALESCE(next_type = 'error', FALSE))
      GROUP BY user_id
      ORDER BY user_id"""))

  /** W2 fill down/up (compare_microscopy.R:127-128 `fill(.direction =
    * "downup")`): last non-null before, else first non-null after, per key
    * in time order. Values < 5 are nulled first to manufacture gaps.
    */
  private val q22 = GraftQuery(
    "q22_fill_downup",
    (s, d) => {
      import s.implicits._
      val wDown = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wUp = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      events(s, d)
        .withColumn("v", when($"value" >= 5.0, $"value"))
        .withColumn("filled", coalesce(
          last($"v", ignoreNulls = true).over(wDown),
          first($"v", ignoreNulls = true).over(wUp)))
        .groupBy($"user_id")
        .agg(dsum($"filled", D6).as("sum_filled"), count($"filled").as("n_filled"))
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id,
        CAST(SUM(CAST(filled AS DECIMAL(18,6))) AS DOUBLE) AS sum_filled,
        COUNT(filled) AS n_filled
      FROM (
        SELECT user_id, COALESCE(
          LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS filled
        FROM (SELECT user_id, ts, event_id,
                CASE WHEN value >= 5.0 THEN value END AS v FROM events) g) t
      GROUP BY user_id
      ORDER BY user_id"""))

  /** J3 as-of join via [[AsOfJoin.nearest]] (Rmd:265-269 ferrybox match,
    * max_time_diff 5 min): each click matched to the nearest error by the
    * same user within ±1 h; ties → earlier error.
    */
  private val q23 = GraftQuery(
    "q23_asof_join",
    (s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"ts")
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id", $"user_id", $"ts")
      AsOfJoin.nearest(clicks, errors, on = Seq("user_id"),
          leftTs = "ts", rightTs = "ts", toleranceSec = 3600L,
          leftId = Seq("event_id"), rightTieBreak = Seq("event_id"))
        .select($"event_id", $"user_id", $"asof_event_id",
          abs(unix_micros($"ts") - unix_micros($"asof_ts")).as("diff_us"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT c.event_id, c.user_id, e.event_id AS asof_event_id,
        ABS(epoch_us(c.ts) - epoch_us(e.ts)) AS diff_us
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON c.user_id = e.user_id
       AND ABS(epoch_us(c.ts) - epoch_us(e.ts)) <= 3600000000
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.event_id
        ORDER BY ABS(epoch_us(c.ts) - epoch_us(e.ts)), e.ts, e.event_id) = 1
      ORDER BY c.event_id"""))

  /** J4 interval join via [[IntervalJoin.contains]] (ifcb_ingest_and_qc.R:
    * 217-221): purchases falling inside each signup's 1-hour window, per
    * user; hour-bucketed so the plan is a hash join.
    */
  private val q24 = GraftQuery(
    "q24_interval_join",
    (s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("p_ts"), $"value".as("p_value"))
      val windows = ev.filter($"event_type" === "signup")
        .select($"user_id", $"event_id".as("s_id"), $"ts".as("w_start"),
          ($"ts" + expr("INTERVAL 1 HOUR")).as("w_end"))
      IntervalJoin.contains(purchases, windows,
          pointTs = "p_ts", startCol = "w_start", endCol = "w_end",
          on = Seq("user_id"), bucketSec = 3600L)
        .groupBy($"s_id")
        .agg(count(lit(1)).as("n_purchases"), dsum($"p_value", D6).as("sum_value"))
        .orderBy($"s_id")
    },
    Some("""
      SELECT s.event_id AS s_id, COUNT(*) AS n_purchases,
        CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM (SELECT * FROM events WHERE event_type = 'signup') s
      JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON p.user_id = s.user_id
       AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
      GROUP BY 1
      ORDER BY 1"""))

  // Deterministic synthetic coordinates: exact integer arithmetic then one
  // double divide — bit-identical in Spark and DuckDB.
  private def synthLat(key: org.apache.spark.sql.Column) =
    (key * 7919L % 18000L) / 100.0 - 90.0
  private def synthLon(key: org.apache.spark.sql.Column) =
    (key * 104729L % 36000L) / 100.0 - 180.0

  /** J6+J7 distance (theta) join (compare_microscopy.R:54-77): equi-join on
    * nation (the cheap key), then refine with the haversine expression —
    * the Catalyst-friendly form of "join within 5 km".
    */
  private val q25 = GraftQuery(
    "q25_distance_join",
    (s, d) => {
      import s.implicits._
      val cust = customer(s, d).select($"c_custkey", $"c_nationkey",
        synthLat($"c_custkey").as("c_lat"), synthLon($"c_custkey").as("c_lon"))
      val supp = supplier(s, d).select($"s_suppkey", $"s_nationkey",
        synthLat($"s_suppkey" + 100000L).as("s_lat"),
        synthLon($"s_suppkey" + 100000L).as("s_lon"))
      cust.join(broadcast(supp), $"c_nationkey" === $"s_nationkey")
        .withColumn("dist_km", Geo.haversineKm($"c_lat", $"c_lon", $"s_lat", $"s_lon"))
        .filter($"dist_km" <= 2000.0)
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_pairs"), round(min($"dist_km"), 3).as("min_km"))
        .orderBy($"c_nationkey")
    },
    Some("""
      SELECT c_nationkey, COUNT(*) AS n_pairs, ROUND(MIN(dist_km), 3) AS min_km
      FROM (
        SELECT c_nationkey,
          2 * 6371.0088 * ASIN(LEAST(1.0, SQRT(
            POW(SIN(RADIANS(s_lat - c_lat) / 2), 2) +
            COS(RADIANS(c_lat)) * COS(RADIANS(s_lat)) *
            POW(SIN(RADIANS(s_lon - c_lon) / 2), 2)))) AS dist_km
        FROM (SELECT c_custkey, c_nationkey,
                (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS c_lat,
                (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS c_lon
              FROM customer) c
        JOIN (SELECT s_suppkey, s_nationkey,
                ((s_suppkey + 100000) * 7919 % 18000) / 100.0 - 90.0 AS s_lat,
                ((s_suppkey + 100000) * 104729 % 36000) / 100.0 - 180.0 AS s_lon
              FROM supplier) sp
          ON c_nationkey = s_nationkey) t
      WHERE dist_km <= 2000.0
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""))

  /** J8 grid-cell binning (samples_frequency_map.R:36-43): spatial count
    * without a geometry library — floor-bin then one hash aggregation.
    */
  private val q26 = GraftQuery(
    "q26_grid_binning",
    (s, d) => {
      import s.implicits._
      val (cellLat, cellLon) = Geo.gridCell(
        synthLat($"c_custkey"), synthLon($"c_custkey"), 15.0)
      customer(s, d)
        .groupBy(cellLat.as("cell_lat"), cellLon.as("cell_lon"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"cell_lat", $"cell_lon")
    },
    Some("""
      SELECT CAST(FLOOR(((c_custkey * 7919 % 18000) / 100.0 - 90.0) / 15.0) AS BIGINT) AS cell_lat,
             CAST(FLOOR(((c_custkey * 104729 % 36000) / 100.0 - 180.0) / 15.0) AS BIGINT) AS cell_lon,
             COUNT(*) AS n
      FROM customer
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** J11 lookup-map join with NA default (Rmd:90-109 named-list lookup):
    * a literal map constant folded by Catalyst — no join at all.
    */
  private val q27 = GraftQuery(
    "q27_lookup_map",
    (s, d) => {
      import s.implicits._
      val rank = typedLit(Map(
        "1-URGENT" -> 1, "2-HIGH" -> 2, "3-MEDIUM" -> 3))
      orders(s, d)
        .withColumn("prio_rank", coalesce(element_at(rank, $"o_orderpriority"), lit(9)))
        .groupBy($"prio_rank")
        .agg(count(lit(1)).as("n"))
        .orderBy($"prio_rank")
    },
    Some("""
      SELECT CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                  WHEN '3-MEDIUM' THEN 3 ELSE 9 END AS prio_rank,
             COUNT(*) AS n
      FROM orders
      GROUP BY 1
      ORDER BY 1"""))

  /** W4 version-max per key (Rmd:171-183 `_v(\d+)` classifier discovery):
    * regexp-extract the numeric suffix, keep the max per type.
    */
  private val q28 = GraftQuery(
    "q28_version_max",
    (s, d) => {
      import s.implicits._
      part(s, d)
        .withColumn("ver",
          expr("try_cast(regexp_extract(p_brand, '#(\\\\d+)', 1) AS INT)"))
        .groupBy($"p_type")
        .agg(max($"ver").as("max_ver"), count(lit(1)).as("n"))
        .orderBy($"p_type")
    },
    Some("""
      SELECT p_type, MAX(TRY_CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INT)) AS max_ver,
             COUNT(*) AS n
      FROM part
      GROUP BY p_type
      ORDER BY p_type"""))
      // try_cast on BOTH sides (round-12 review): this session runs
      // Spark 4 with ANSI mode ON (the default — no override in
      // GraftSession/build.sbt), so a p_brand without the Brand#N shape
      // extracts '' and a plain .cast("int") would THROW
      // CAST_INVALID_INPUT on the Spark side while the oracle's TRY_CAST
      // silently nulls — an inverted mirror, not failure parity. Both
      // engines now null the unparsable version (including digit runs
      // past Int range) and MAX skips it.

  /** A13 grouped collect + pair resolution (03_delete_duplicates.R:27-60):
    * orders whose lineitems span exactly two distinct return flags; the
    * "correct" one resolved deterministically (min), candidates listed in
    * sorted order so the string is shuffle-stable (SURVEY.md §7.4 risk 4).
    */
  private val q29 = GraftQuery(
    "q29_pair_resolution",
    (s, d) => {
      import s.implicits._
      lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(
          array_sort(collect_set($"l_returnflag")).as("cand"),
          min($"l_returnflag").as("resolved"))
        .filter(size($"cand") === 2)
        .select($"l_orderkey", array_join($"cand", ",").as("candidates"), $"resolved")
        .orderBy($"l_orderkey")
    },
    Some("""
      SELECT l_orderkey,
        STRING_AGG(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS candidates,
        MIN(l_returnflag) AS resolved
      FROM lineitem
      GROUP BY l_orderkey
      HAVING COUNT(DISTINCT l_returnflag) = 2
      ORDER BY l_orderkey"""))

  /** §2.7 set ops: intersect / except with dedup semantics (R setdiff/
    * intersect, ifcb_ingest_and_qc.R:197, clean_taxa_fn.R:167-168) plus
    * unionByName with a missing column (bind_rows, Rmd:1136).
    */
  private val q30 = GraftQuery(
    "q30_set_ops",
    (s, d) => {
      import s.implicits._
      val big = orders(s, d).filter($"o_totalprice" > 250000.0)
        .select($"o_orderpriority")
      val fin = orders(s, d).filter($"o_orderstatus" === "F")
        .select($"o_orderpriority")
      val both = big.intersect(fin).withColumn("op", lit("intersect"))
      val onlyBig = big.except(fin).withColumn("op", lit("except"))
      both.unionByName(onlyBig.withColumn("note", lit("big-only")),
          allowMissingColumns = true)
        .orderBy($"op", $"o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, op, note FROM (
        SELECT o_orderpriority, 'intersect' AS op, NULL AS note FROM (
          SELECT o_orderpriority FROM orders WHERE o_totalprice > 250000.0
          INTERSECT
          SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F')
        UNION ALL
        SELECT o_orderpriority, 'except' AS op, 'big-only' AS note FROM (
          SELECT o_orderpriority FROM orders WHERE o_totalprice > 250000.0
          EXCEPT
          SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'))
      ORDER BY op, o_orderpriority"""))

  /** Batch sessionization (the relational twin of
    * [[graft.streaming.Streams]]' mapGroupsWithState sessionizer, ST5):
    * a session closes after a 30-minute silence — `new_sess` from a
    * lag'd epoch-second gap, session ids from the running sum, then a
    * per-(user, session) rollup. One shuffle on user_id carries the
    * window AND the aggregation (same key — no second exchange at
    * scale). Gap math floors to epoch SECONDS on both engines: Spark
    * reads the nanos column truncated to micros, DuckDB reads raw
    * nanos, and flooring to the second is the granularity at which
    * both views provably agree (truncation never crosses a second).
    */
  private val q82 = GraftQuery(
    "q82_sessionize",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      val cum = w.rowsBetween(Window.unboundedPreceding, 0)
      events(s, d)
        .withColumn("es", unix_timestamp($"ts"))
        .withColumn("new_sess",
          when($"es" - lag($"es", 1).over(w) >= 1800L, 1L)
            .when(lag($"es", 1).over(w).isNull, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum($"new_sess").over(cum))
        .groupBy($"user_id", $"session_id")
        .agg(count(lit(1)).as("n_events"),
          min($"es").as("start_s"), max($"es").as("end_s"),
          dsum($"value", D4).as("sum_value"))
        .orderBy($"user_id", $"session_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, ts, value,
          CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
        FROM events),
      s1 AS (
        SELECT user_id, ts, event_id, es, value,
          CASE WHEN es - LAG(es) OVER w >= 1800 THEN 1
               WHEN LAG(es) OVER w IS NULL THEN 1
               ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s2 AS (
        SELECT user_id, es, value,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM s1)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        COUNT(*) AS n_events,
        MIN(es) AS start_s, MAX(es) AS end_s,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM s2
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Tumbling event-time windows via Spark's native `window()` — the
    * batch twin of the streaming daily/hourly aggregations (ST4): one
    * hash aggregation keyed on (window, event_type), map-side combined.
    * The oracle mirrors the window start as the hour floor of the epoch
    * (hour boundaries are micros/nanos-truncation-safe, the q82
    * argument at coarser grain).
    */
  private val q83 = GraftQuery(
    "q83_tumbling_window",
    (s, d) => {
      import s.implicits._
      events(s, d)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value", D4).as("sum_value"))
        .select(unix_timestamp($"window.start").as("hour_start"),
          $"event_type", $"n", $"sum_value")
        .orderBy($"hour_start", $"event_type")
    },
    Some("""
      SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 AS hour_start,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  /** Ordered-funnel analysis (view → click → purchase): each stage's
    * timestamp is the user's first qualifying event STRICTLY AFTER the
    * previous stage — the standard conversion-funnel semantics, staged
    * as per-user min-aggregations chained through user-keyed joins (no
    * per-user event sort, no collect; every stage is one map-side-
    * combined aggregation + an equi join that AQE broadcasts while
    * small and shuffles by user at scale). Epoch-second floors make the
    * strict-after comparison engine-identical (the q82 argument).
    */
  private val q86 = GraftQuery(
    "q86_funnel",
    (s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select($"user_id", unix_timestamp($"ts").as("es"), $"event_type")
      // pin the USER-GRAIN stage frames (the q62/q81 shared-frame
      // discipline): without it the final
      // 3-way join re-derives v inside c and c inside p, re-scanning
      // events ~6x per action; checkpointed, each stage scans events
      // once (with its event_type filter pushed down) and the tiny
      // per-user frames are reused by every consumer
      val v = Frames.pin(ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"es").as("ts_v")))
      val c = Frames.pin(ev.filter($"event_type" === "click")
        .join(v, Seq("user_id")).filter($"es" > $"ts_v")
        .groupBy($"user_id").agg(min($"es").as("ts_c"), min($"ts_v").as("ts_v")))
      val p = ev.filter($"event_type" === "purchase")
        .join(c.select($"user_id", $"ts_c"), Seq("user_id"))
        .filter($"es" > $"ts_c")
        .groupBy($"user_id").agg(min($"es").as("ts_p"), min($"ts_c").as("ts_c2"))
      v.join(c.select($"user_id", $"ts_c"), Seq("user_id"), "left")
        .join(p.select($"user_id", $"ts_p", $"ts_c2"), Seq("user_id"), "left")
        .agg(
          count(lit(1)).as("n_view"),
          count($"ts_c").as("n_click"),
          count($"ts_p").as("n_purchase"),
          sum($"ts_c" - $"ts_v").as("click_delay_s"),
          sum($"ts_p" - $"ts_c2").as("purchase_delay_s"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS es, event_type
        FROM events),
      v AS (
        SELECT user_id, MIN(es) AS ts_v FROM ev
        WHERE event_type = 'view' GROUP BY 1),
      c AS (
        SELECT e.user_id, MIN(e.es) AS ts_c, MIN(v.ts_v) AS ts_v
        FROM ev e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.es > v.ts_v
        GROUP BY 1),
      p AS (
        SELECT e.user_id, MIN(e.es) AS ts_p, MIN(c.ts_c) AS ts_c2
        FROM ev e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.es > c.ts_c
        GROUP BY 1)
      SELECT COUNT(*) AS n_view,
        COUNT(c.ts_c) AS n_click,
        COUNT(p.ts_p) AS n_purchase,
        CAST(SUM(c.ts_c - c.ts_v) AS BIGINT) AS click_delay_s,
        CAST(SUM(p.ts_p - p.ts_c2) AS BIGINT) AS purchase_delay_s
      FROM v
      LEFT JOIN c USING (user_id)
      LEFT JOIN p USING (user_id)"""))

  val all: Seq[GraftQuery] = Seq(
    q21, q22, q23, q24, q25, q26, q27, q28, q29, q30, q82, q83, q86)
}
