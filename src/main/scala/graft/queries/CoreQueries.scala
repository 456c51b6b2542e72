package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Par.FanoutOps
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.{Analytics, Buckets, Dedup, EventWeights, Exact, Ranks, TimeFeatures}

/** SURVEY §2 operator inventory expressed over the driver testdata, each
  * with its DuckDB oracle. Scale notes are per-query Scaladoc: the same
  * plans run unchanged on a many-executor cluster because every operator
  * is declarative (Catalyst handles pushdown/pruning/join strategy) and
  * no step collects to the driver.
  */
object CoreQueries {
  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** q01 — §2.4 A1-style multi-aggregate groupBy (TPC-H Q1 shape).
    * Map-side partial aggregation + 2-key shuffle; exact decimal sums so
    * results are partition-order independent. */
  val q01 = QueryDef(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.sumD(col("l_quantity")).as("sum_qty"),
        Exact.sumD(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) *
          (dec2(lit(1)) - dec2(col("l_discount")))).cast("double")
          .as("sum_disc_price"),
        Exact.avgD(col("l_quantity")).as("avg_qty"),
        Exact.avgD(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q02 — §2.2 P1/P4/P5 filters + projection. Predicates push to the
    * parquet scan (verify via PushedFilters in explain). */
  val q02 = QueryDef(
    "q02_filter_project",
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |WHERE user_id IS NOT NULL
      |  AND event_type IN ('view','click','purchase')
      |  AND value > 0
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "click", "purchase") &&
        col("value") > 0)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** q03 — §2.2 P6–P8 time features; weekend via day-name to avoid the
    * pandas-vs-Spark weekday numbering mismatch (SURVEY ⚠ P8). */
  val q03 = QueryDef(
    "q03_time_features",
    """SELECT CAST(hour(ts) AS INT) AS hour_of_day,
      |  dayname(ts) AS day_name,
      |  dayname(ts) IN ('Saturday','Sunday') AS is_weekend,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(
        TimeFeatures.hourOfDay(col("ts")).as("hour_of_day"),
        TimeFeatures.dayName(col("ts")).as("day_name"),
        TimeFeatures.isWeekend(col("ts")).as("is_weekend"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("hour_of_day", "day_name")
  }

  /** q04 — §2.2 P11 event-weight map + per-user engagement sum. Integer
    * weights keep the sum exact on both engines. */
  val q04 = QueryDef(
    "q04_event_weights",
    """SELECT user_id,
      |  CAST(SUM(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |    WHEN 'purchase' THEN 10 WHEN 'signup' THEN 3 WHEN 'error' THEN -2
      |    ELSE 1 END) AS BIGINT) AS total_engagement,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        sum(EventWeights.weight(col("event_type"), EventWeights.testdata))
          .as("total_engagement"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** q05 — §2.2 P13 right-closed pd.cut buckets; out-of-range → pinned
    * label so sort order has no engine-specific null placement. */
  val q05 = QueryDef(
    "q05_value_buckets",
    """SELECT COALESCE(CASE WHEN value IS NULL OR value <= 0 THEN NULL
      |    WHEN value <= 50 THEN 'budget' WHEN value <= 200 THEN 'low'
      |    WHEN value <= 500 THEN 'mid' WHEN value <= 1000 THEN 'high'
      |    ELSE 'premium' END, 'out_of_range') AS value_tier,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(coalesce(
        Buckets.cut(col("value"), 0, Seq(50, 200, 500, 1000),
          Seq("budget", "low", "mid", "high", "premium")),
        lit("out_of_range")).as("value_tier"))
      .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("total_value"))
      .orderBy("value_tier")
  }

  /** q06 — §2.4 A1/A2 + P15/P24 user summary: counts, distincts, exact
    * value sums, activity bucket, per-day ratio. One shuffle on user_id;
    * distincts expand then re-aggregate (Catalyst plans the expand). */
  val q06 = QueryDef(
    "q06_user_summary",
    """SELECT user_id,
      |  COUNT(ts) AS total_events,
      |  COUNT(DISTINCT event_type) AS event_types,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value,
      |  CASE WHEN COUNT(ts) <= 5 THEN 'Low' WHEN COUNT(ts) <= 15 THEN 'Medium'
      |    WHEN COUNT(ts) <= 30 THEN 'High' ELSE 'Very High' END AS activity_level,
      |  CAST(FLOOR(COUNT(ts) / CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE)
      |    * 100 + 0.5) AS BIGINT) / 100.0 AS events_per_day
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(col("ts")).as("total_events"),
        countDistinct(col("event_type")).as("event_types"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        Exact.sumD(col("value")).as("total_value"),
        Exact.avgD(col("value")).as("avg_value"))
      .withColumn("activity_level", Buckets.activityLevel(col("total_events")))
      .withColumn("events_per_day",
        Exact.round2(col("total_events") / col("active_days").cast("double")))
      .orderBy("user_id")
  }

  /** q07 — §2.4 A3 deterministic per-group mode (max count, min value
    * tie-break). Two-level agg, no per-key sort: skew-safe. */
  val q07 = QueryDef(
    "q07_mode_preference",
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT user_id, MAX(n) AS mx FROM c GROUP BY 1)
      |SELECT c.user_id, MIN(c.event_type) AS preferred_event
      |FROM c JOIN m ON c.user_id = m.user_id AND c.n = m.mx
      |GROUP BY c.user_id
      |ORDER BY c.user_id""".stripMargin) { (s, d) =>
    Analytics.modeDeterministic(
      Tables.events(s, d), Seq("user_id"), "event_type", "preferred_event")
      .orderBy("user_id")
  }

  /** q08 — §2.4 A5/A6 product summary + popularity score. */
  val q08 = QueryDef(
    "q08_product_summary",
    """SELECT l_partkey,
      |  COUNT(DISTINCT l_orderkey) AS unique_orders,
      |  COUNT(*) AS total_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  ROUND(0.5 * COUNT(DISTINCT l_orderkey) + 0.3 * COUNT(*)
      |    + 0.2 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS popularity_score
      |FROM lineitem
      |GROUP BY l_partkey
      |ORDER BY l_partkey""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(
        countDistinct(col("l_orderkey")).as("unique_orders"),
        count(lit(1)).as("total_lines"),
        Exact.sumD(col("l_quantity")).as("total_qty"),
        Exact.sumD(col("l_extendedprice")).as("revenue"))
      .withColumn("popularity_score",
        round(lit(0.5) * col("unique_orders") + lit(0.3) * col("total_lines")
          + lit(0.2) * col("total_qty"), 2))
      .orderBy("l_partkey")
  }

  /** q09 — §2.4 A7 quartile tiers via ntile over a unique order. The
    * global window runs on *aggregated* (one row per part) data — fine at
    * scale; never ntile raw fact rows. */
  val q09 = QueryDef(
    "q09_quartile_tiers",
    """WITH p AS (
      |  SELECT l_partkey,
      |    ROUND(0.5 * COUNT(DISTINCT l_orderkey) + 0.3 * COUNT(*)
      |      + 0.2 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS popularity_score
      |  FROM lineitem GROUP BY l_partkey),
      |t AS (
      |  SELECT l_partkey, popularity_score,
      |    NTILE(4) OVER (ORDER BY popularity_score, l_partkey) AS q
      |  FROM p)
      |SELECT l_partkey, popularity_score,
      |  CASE q WHEN 1 THEN 'Low' WHEN 2 THEN 'Medium' WHEN 3 THEN 'High'
      |    ELSE 'Top' END AS popularity_tier
      |FROM t
      |ORDER BY l_partkey""".stripMargin) { (s, d) =>
    val p = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(
        countDistinct(col("l_orderkey")).as("uo"),
        count(lit(1)).as("tl"),
        Exact.sumD(col("l_quantity")).as("tq"))
      .select(col("l_partkey"),
        round(lit(0.5) * col("uo") + lit(0.3) * col("tl")
          + lit(0.2) * col("tq"), 2).as("popularity_score"))
    Analytics.quartileTier(p, col("popularity_score"), col("l_partkey"),
      "popularity_tier")
      .select("l_partkey", "popularity_score", "popularity_tier")
      .orderBy("l_partkey")
  }

  /** q10 — §2.4 A9/A10 daily stats with a conditional count folded into
    * the same aggregation (no extra join, unlike the reference). */
  val q10 = QueryDef(
    "q10_daily_stats",
    """SELECT CAST(ts AS DATE) AS event_date,
      |  COUNT(DISTINCT user_id) AS dau,
      |  COUNT(*) AS total_events,
      |  COUNT(DISTINCT event_type) AS event_types,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_events,
      |  CAST(FLOOR(100.0 * CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*)
      |    * 100 + 0.5) AS BIGINT) / 100.0 AS click_pct
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(
        countDistinct(col("user_id")).as("dau"),
        count(lit(1)).as("total_events"),
        countDistinct(col("event_type")).as("event_types"),
        sum(when(col("event_type") === "click", 1).otherwise(0))
          .as("click_events"))
      .withColumn("click_pct",
        Exact.round2(lit(100.0) * col("click_events") / col("total_events")))
      .orderBy("event_date")
  }

  /** q11 — §2.4 A11 + §2.6 W6 engagement share: global total via an empty
    * window over the already-aggregated (tiny) frame. */
  val q11 = QueryDef(
    "q11_engagement_share",
    """WITH e AS (
      |  SELECT event_type,
      |    COUNT(DISTINCT user_id) AS unique_users,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |      WHEN 'purchase' THEN 10 WHEN 'signup' THEN 3 WHEN 'error' THEN -2
      |      ELSE 1 END) AS BIGINT) AS total_engagement
      |  FROM events GROUP BY 1)
      |SELECT event_type, unique_users, n_events, total_engagement,
      |  CAST(FLOOR(100.0 * n_events / SUM(n_events) OVER ()
      |    * 100 + 0.5) AS BIGINT) / 100.0 AS event_pct
      |FROM e
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("unique_users"),
        count(lit(1)).as("n_events"),
        sum(EventWeights.weight(col("event_type"), EventWeights.testdata))
          .as("total_engagement"))
    e.withColumn("event_pct",
      Exact.round2(lit(100.0) * col("n_events")
        / sum(col("n_events")).over(Window.partitionBy())))
      .orderBy("event_type")
  }

  /** q12 — §2.4 A12 / §2.6 W4 percent_rank over per-user exact totals. */
  val q12 = QueryDef(
    "q12_percent_rank",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1)
      |SELECT user_id, total_value,
      |  PERCENT_RANK() OVER (ORDER BY total_value) AS value_pct_rank
      |FROM u
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    // Distributed rank (Ranks.percentRank): the naive
    // percent_rank().over(Window.orderBy(...)) sorts every user in ONE
    // task — the r2 verdict's single-partition scale-killer. Same
    // values, bucketed sort.
    Ranks.percentRank(
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(Exact.sumD(col("value")).as("total_value")),
      col("total_value"), "value_pct_rank")
      .select("user_id", "total_value", "value_pct_rank")
      .orderBy("user_id")
  }

  /** q13 — §2.5 D2 / §2.6 W5 keep-latest-per-key via descending
    * row_number (the deterministic form; bare dropDuplicates is not). */
  val q13 = QueryDef(
    "q13_keep_latest",
    """WITH r AS (
      |  SELECT user_id, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id AS last_event_id,
      |  event_type AS last_event_type, value AS last_value
      |FROM r WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    Dedup.keepLatest(Tables.events(s, d), "user_id", "ts",
        tieBreak = Seq("event_id"))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"))
      .orderBy("user_id")
  }

  /** q14 — §2.6 W1/W2 per-user sequence + inter-event gaps. Gap math on
    * whole epoch-seconds (long) so sub-second precision differences
    * between engines can't leak into the result. */
  val q14 = QueryDef(
    "q14_session_stats",
    """WITH s AS (
      |  SELECT user_id,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS tsec,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
      |  FROM events),
      |g AS (
      |  SELECT user_id,
      |    tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY seq) AS gap
      |  FROM s)
      |SELECT user_id, COUNT(*) AS n_events, COUNT(gap) AS n_gaps,
      |  CAST(MAX(gap) AS BIGINT) AS max_gap_s,
      |  CAST(FLOOR(CAST(SUM(gap) AS DOUBLE) / COUNT(gap)
      |    * 100 + 0.5) AS BIGINT) / 100.0 AS avg_gap_s
      |FROM g
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val wSeq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"),
        TimeFeatures.epochSeconds(col("ts")).as("tsec"),
        row_number().over(wSeq).as("seq"))
      .withColumn("gap", col("tsec") - lag(col("tsec"), 1)
        .over(Window.partitionBy(col("user_id")).orderBy(col("seq"))))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("gap")).as("n_gaps"),
        max(col("gap")).as("max_gap_s"),
        Exact.round2(sum(col("gap")).cast("double") / count(col("gap")))
          .as("avg_gap_s"))
      .orderBy("user_id")
  }

  /** q15 — §2.5 D6 top-K with a full deterministic order. */
  val q15 = QueryDef(
    "q15_top_users",
    """SELECT user_id, COUNT(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY n_events DESC, user_id ASC
      |LIMIT 10""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id").asc)
      .limit(10)
  }

  /** q16 — §2.7 J1–J3/J5 star join (TPC-H Q5 shape). Dimensions
    * (customer/nation/region) broadcast; the lineitem⋈orders fact join
    * shuffles on orderkey — at 100 TB that is the one unavoidable
    * shuffle, and AQE handles skew. */
  val q16 = QueryDef(
    "q16_region_revenue",
    """SELECT r_name AS region_name, n_name AS nation_name,
      |  COUNT(DISTINCT o_orderkey) AS n_orders,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"),
        col("n_name").as("nation_name"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum(dec2(col("l_extendedprice")) *
          (dec2(lit(1)) - dec2(col("l_discount")))).cast("double")
          .as("revenue"))
      .orderBy("region_name", "nation_name")
  }

  /** q17 — §2.7 semi/anti joins: per-segment customers with/without
    * orders. Exercises left_semi and left_anti explicitly. */
  val q17 = QueryDef(
    "q17_semi_anti",
    """WITH flags AS (
      |  SELECT c_custkey, c_mktsegment,
      |    EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
      |  FROM customer)
      |SELECT c_mktsegment,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CASE WHEN has_order THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
      |  CAST(SUM(CASE WHEN has_order THEN 0 ELSE 1 END) AS BIGINT) AS without_orders
      |FROM flags
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val semi = cust.join(ord, col("c_custkey") === col("o_custkey"),
        "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("with_orders"))
    val anti = cust.join(ord, col("c_custkey") === col("o_custkey"),
        "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("without_orders"))
    cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
      .join(semi, Seq("c_mktsegment"), "left")
      .join(anti, Seq("c_mktsegment"), "left")
      .na.fill(0, Seq("with_orders", "without_orders"))
      .orderBy("c_mktsegment")
  }

  /** q18 — §2.7 J4 unionByName with missing columns (pandas concat
    * semantics: absent column → null). */
  val q18 = QueryDef(
    "q18_union_by_name",
    """SELECT src, COUNT(*) AS n_rows, COUNT(value) AS n_with_value,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (
      |  SELECT 'purchase' AS src, event_id, value
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT 'signup' AS src, event_id, NULL AS value
      |  FROM events WHERE event_type = 'signup')
      |GROUP BY src
      |ORDER BY src""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(lit("purchase").as("src"), col("event_id"), col("value"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(lit("signup").as("src"), col("event_id"))
    purchases.unionByName(signups, allowMissingColumns = true)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_rows"), count(col("value")).as("n_with_value"),
        Exact.sumD(col("value")).as("total_value"))
      .orderBy("src")
  }

  /** q19 — §2.2 P27 JSON field extraction from the string `props` column
    * (regexp form: identical semantics on both engines, no JSON
    * extension dependency). */
  val q19 = QueryDef(
    "q19_json_props",
    """WITH j AS (
      |  SELECT TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k
      |  FROM events)
      |SELECT k % 10 AS k_mod, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS k_sum
      |FROM j
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
        .cast("int").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
      .orderBy("k_mod")
  }

  /** q20 — §2.8 T8 batch analog: 30-minute-gap sessionization via a
    * windowed cumulative sum of session starts. */
  val q20 = QueryDef(
    "q20_sessionize",
    """WITH s AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN LAG(ts) OVER w IS NULL THEN 1
      |      WHEN CAST(FLOOR(EPOCH(ts)) AS BIGINT)
      |        - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800 THEN 1
      |      ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s2 AS (
      |  SELECT user_id,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      |  FROM s)
      |SELECT user_id,
      |  CAST(MAX(sess_no) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events,
      |  CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(sess_no) AS BIGINT)
      |    * 100 + 0.5) AS BIGINT) / 100.0 AS events_per_session
      |FROM s2
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tsec = TimeFeatures.epochSeconds(col("ts"))
    val lagSec = TimeFeatures.epochSeconds(lag(col("ts"), 1).over(w))
    Tables.events(s, d)
      .withColumn("new_sess",
        when(lag(col("ts"), 1).over(w).isNull, 1)
          .when(tsec - lagSec > 1800, 1)
          .otherwise(0))
      .withColumn("sess_no", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"))
      .agg(
        max(col("sess_no")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        // portable HALF_UP — 85/83-style quotients land on exact
        // halves and round(x, 2) diverges across engines (Exact.round2)
        graft.functions.Exact.round2(
          count(lit(1)).cast("double") / max(col("sess_no")))
          .as("events_per_session"))
      .orderBy("user_id")
  }

  /** q21 — §2.6 frame-spec rolling window: 3-event rolling value sum
    * (exact decimal, so sliding-accumulator implementations can't
    * diverge), max per user. */
  val q21 = QueryDef(
    "q21_rolling_window",
    """WITH r AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_sum,
      |    COUNT(value) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_n
      |  FROM events)
      |SELECT user_id,
      |  ROUND(MAX(roll_sum), 2) AS max_roll_sum,
      |  CAST(FLOOR(MAX(roll_sum / roll_n) * 100 + 0.5) AS BIGINT) / 100.0
      |    AS max_roll_avg
      |FROM r
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"),
        sum(dec2(col("value"))).over(w).cast("double").as("roll_sum"),
        count(col("value")).over(w).as("roll_n"))
      .groupBy(col("user_id"))
      .agg(
        // roll_sum itself is an exact 2-decimal value (decimal sum cast
        // to double) — plain round is safe; the QUOTIENT is not
        // (Exact.round2 doc)
        round(max(col("roll_sum")), 2).as("max_roll_sum"),
        graft.functions.Exact.round2(max(col("roll_sum") / col("roll_n")))
          .as("max_roll_avg"))
      .orderBy("user_id")
  }

  /** q51 — as-of (point-in-time) join: every event annotated with the
    * same user's most recent STRICTLY-EARLIER purchase event (the
    * "state as of" feature the reference's streaming extractor keeps
    * imperatively, `feature_extraction.py` last-seen state). Built on
    * [[graft.functions.AsOf.asofJoin]]: one shuffle on user_id + one
    * sort — no range-join row amplification — vs DuckDB's native
    * `ASOF LEFT JOIN` as the oracle. The right side is deduped to one
    * purchase per (user_id, ts) by max event_id on BOTH engines so the
    * carried payload is deterministic. */
  val q51 = QueryDef(
    "q51_asof_last_purchase",
    """WITH purchases AS (
      |  SELECT user_id, ts, event_id AS last_purchase_event,
      |         value AS last_purchase_value
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |        FROM events WHERE event_type = 'purchase')
      |  WHERE rn = 1
      |)
      |SELECT e.event_id, e.user_id,
      |       p.last_purchase_event, p.last_purchase_value
      |FROM events e ASOF LEFT JOIN purchases p
      |  ON e.user_id = p.user_id AND e.ts > p.ts
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = Dedup.keepLatestBy(
        ev.filter(col("event_type") === "purchase"),
        Seq("user_id", "ts"), Seq(col("event_id").desc))
      .select(col("user_id"), col("ts"),
        col("event_id").as("last_purchase_event"),
        col("value").as("last_purchase_value"))
    graft.functions.AsOf.asofJoin(
        ev.select("event_id", "user_id", "ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("last_purchase_event", "last_purchase_value"),
        strict = true)
      .select("event_id", "user_id",
        "last_purchase_event", "last_purchase_value")
      .orderBy("event_id")
  }

  /** q52 — exact interpolated percentiles per group (the distribution
    * summary the reference's pandas `describe()`/`quantile` produces,
    * `gold_pipeline.py` summary stats). Spark's `percentile` is a
    * single-pass exact aggregate (map-side partial collections merged
    * on the group key — one shuffle); DuckDB's `quantile_cont` is the
    * oracle. Both engines interpolate at p·(n−1); the portable floor
    * rounding absorbs formula low-bit differences. */
  val q52 = QueryDef(
    "q52_order_value_quantiles",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(FLOOR(quantile_cont(o_totalprice, 0.25)*100 + 0.5) AS BIGINT)/100.0 AS p25,
      |  CAST(FLOOR(quantile_cont(o_totalprice, 0.50)*100 + 0.5) AS BIGINT)/100.0 AS p50,
      |  CAST(FLOOR(quantile_cont(o_totalprice, 0.75)*100 + 0.5) AS BIGINT)/100.0 AS p75,
      |  CAST(FLOOR(quantile_cont(o_totalprice, 0.95)*100 + 0.5) AS BIGINT)/100.0 AS p95
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    def q(p: Double, as: String) =
      Exact.round2(percentile(col("o_totalprice"), lit(p))).as(as)
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        q(0.25, "p25"), q(0.50, "p50"), q(0.75, "p75"), q(0.95, "p95"))
      .orderBy("o_orderpriority")
  }

  /** q53 — bounded range join: for every purchase, the count of the
    * same user's view/click events in the preceding hour (purchase
    * attribution — the windowed-context feature the reference's
    * streaming extractor approximates with rolling state). Built on
    * [[graft.functions.Intervals.rangeJoin]] (bucket-and-filter
    * equi-join — a shuffle hash join, never a nested loop); DuckDB
    * executes the raw inequality join as the oracle. */
  val q53 = QueryDef(
    "q53_purchase_attribution",
    """SELECT p.event_id, p.user_id,
      |  COUNT(*) FILTER (WHERE e.event_type = 'view') AS n_prior_views,
      |  COUNT(*) FILTER (WHERE e.event_type = 'click') AS n_prior_clicks
      |FROM events p LEFT JOIN events e
      |  ON e.user_id = p.user_id
      | AND e.event_type IN ('view', 'click')
      | AND epoch_us(e.ts) >= epoch_us(p.ts) - 3600000000
      | AND epoch_us(e.ts) < epoch_us(p.ts)
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "us")
    val context = ev.filter(col("event_type").isin("view", "click"))
      .select("user_id", "event_type", "us")
    val pairs = graft.functions.Intervals.rangeJoin(
      purchases, context, keys = Seq("user_id"),
      leftTsUs = "us", rightTsUs = "us",
      lowerUs = -3600L * 1000 * 1000, upperUs = 0L)
    val counts = pairs.groupBy(col("event_id"))
      .agg(
        count(when(col("r_event_type") === "view", 1)).as("n_prior_views"),
        count(when(col("r_event_type") === "click", 1)).as("n_prior_clicks"))
    purchases.join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_prior_views"), lit(0L)).as("n_prior_views"),
        coalesce(col("n_prior_clicks"), lit(0L)).as("n_prior_clicks"))
      .orderBy("event_id")
  }

  /** q54 — hierarchy rollup: revenue at (region, nation), per-region
    * subtotal, and grand total in ONE pass (`ROLLUP` = grouping-sets
    * expansion inside the aggregate — Catalyst plans a single shuffle
    * with an Expand, not three scans). GROUPING() columns disambiguate
    * subtotal rows from genuine nulls. Dimensions broadcast; the one
    * shuffle is on the expanded grouping id + keys. */
  val q54 = QueryDef(
    "q54_revenue_rollup",
    """SELECT r_name, n_name,
      |  CAST(GROUPING(r_name) AS INT) AS g_region,
      |  CAST(GROUPING(n_name) AS INT) AS g_nation,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM region
      |  JOIN nation ON n_regionkey = r_regionkey
      |  JOIN customer ON c_nationkey = n_nationkey
      |  JOIN orders ON o_custkey = c_custkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY g_region, g_nation, r_name, n_name""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        grouping(col("r_name")).cast("int").as("g_region"),
        grouping(col("n_name")).cast("int").as("g_nation"),
        Exact.sumD(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select("r_name", "n_name", "g_region", "g_nation",
        "revenue", "n_orders")
      .orderBy("g_region", "g_nation", "r_name", "n_name")
  }

  /** q55 — pivot (long→wide): daily event counts, one column per
    * event type. The pivot value list is EXPLICIT, so the plan is a
    * single groupBy with conditional aggregates — no extra
    * distinct-values job, no driver-side value discovery at scale.
    * Oracle: the same conditional aggregation spelled with FILTER. */
  val q55 = QueryDef(
    "q55_daily_event_pivot",
    """SELECT CAST(ts AS DATE) AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type",
        Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")
  }

  /** q58 — batch sessionization (gaps-and-islands): assign session
    * ids by 30-min inactivity gaps (lag + cumulative sum of
    * session-start markers), then roll up per-user session stats.
    * Every window partitions by user_id — no global sort anywhere;
    * this is the batch twin of the streaming `session_window`
    * aggregation (T8). Gap math on whole epoch-seconds so sub-second
    * engine precision can't leak (same trick as q14). */
  val q58 = QueryDef(
    "q58_sessionization",
    """WITH s AS (
      |  SELECT user_id, event_id,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS tsec
      |  FROM events),
      |o AS (
      |  SELECT user_id, event_id, tsec,
      |    LAG(tsec) OVER (PARTITION BY user_id
      |      ORDER BY tsec, event_id) AS prev
      |  FROM s),
      |x AS (
      |  SELECT user_id, tsec,
      |    SUM(CASE WHEN prev IS NULL OR tsec - prev > 1800
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY tsec, event_id
      |            ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM o),
      |sess AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    MAX(tsec) - MIN(tsec) AS dur_s
      |  FROM x GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  MAX(n_events) AS max_session_events,
      |  CAST(FLOOR(CAST(SUM(dur_s) AS DOUBLE) / COUNT(*) * 100 + 0.5)
      |    AS BIGINT) / 100.0 AS avg_session_dur_s
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec"), col("event_id"))
    val base = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        TimeFeatures.epochSeconds(col("ts")).as("tsec"))
      .withColumn("prev", lag(col("tsec"), 1).over(wOrd))
      .withColumn("session_id",
        sum(when(col("prev").isNull ||
          col("tsec") - col("prev") > 1800, 1).otherwise(0))
          .over(wOrd.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
    base.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("tsec")) - min(col("tsec"))).as("dur_s"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        Exact.round2(sum(col("dur_s")).cast("double") / count(lit(1)))
          .as("avg_session_dur_s"))
      .orderBy("user_id")
  }

  /** q60 — unpivot (wide→long melt, the inverse of q55): lineitem
    * measures melted to (measure, value) rows, then aggregated per
    * measure. Catalyst plans `unpivot` as an Expand — row fan-out ×4
    * but a single scan, no join, and partial aggregation keeps the
    * shuffle at 4 rows per map task. Oracle: the equivalent 4-way
    * UNION ALL of per-measure aggregates. */
  val q60 = QueryDef(
    "q60_measure_melt",
    """SELECT 'l_quantity' AS measure,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  COUNT(*) AS n FROM lineitem
      |UNION ALL
      |SELECT 'l_extendedprice',
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),
      |  COUNT(*) FROM lineitem
      |UNION ALL
      |SELECT 'l_discount',
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE),
      |  COUNT(*) FROM lineitem
      |UNION ALL
      |SELECT 'l_tax',
      |  CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE),
      |  COUNT(*) FROM lineitem
      |ORDER BY measure""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .unpivot(
        ids = Array.empty[Column],
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "value")
      .groupBy(col("measure"))
      .agg(Exact.sumD(col("value")).as("total"),
        count(lit(1)).as("n"))
      .orderBy("measure")
  }

  /** q61 — event-time rolling window via a RANGE frame: for every
    * event, the count and value-sum of the same user's events in the
    * preceding hour (exclusive). Mechanically different from q53's
    * bucket range-join — here ONE keyed window with
    * `rangeBetween(-3600, -1)` over epoch seconds does it with a
    * single shuffle and zero row amplification; the right tool when
    * the "left side" is the same stream as the "right". q53 remains
    * the tool when the two sides differ. The frame is validated by
    * DuckDB's native RANGE BETWEEN window. */
  val q61 = QueryDef(
    "q61_rolling_time_window",
    """WITH s AS (
      |  SELECT event_id, user_id,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS tsec,
      |    CAST(value AS DOUBLE) AS v
      |  FROM events)
      |SELECT event_id, user_id,
      |  COUNT(*) OVER w AS n_prev_hour,
      |  CAST(COALESCE(SUM(CAST(v AS DECIMAL(18,6))) OVER w, 0)
      |    AS DOUBLE) AS sum_prev_hour
      |FROM s
      |WINDOW w AS (PARTITION BY user_id ORDER BY tsec
      |  RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"))
      .rangeBetween(-3600, -1)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        TimeFeatures.epochSeconds(col("ts")).as("tsec"),
        col("value").cast("double").as("v"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_prev_hour"),
        coalesce(sum(col("v").cast(DecimalType(18, 6))).over(w),
          lit(0).cast(DecimalType(18, 6))).cast("double")
          .as("sum_prev_hour"))
      .orderBy("event_id")
  }

  /** q62 — full cube: revenue by (orderpriority, orderstatus) plus
    * BOTH one-dimension margins and the grand total in one pass —
    * `cube` is the 2^n grouping-sets expansion (one Expand + one
    * shuffle), vs rollup's n+1 prefix sets (q54). */
  val q62 = QueryDef(
    "q62_revenue_cube",
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY g_prio, g_status, o_orderpriority, o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        Exact.sumD(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select("o_orderpriority", "o_orderstatus", "g_prio", "g_status",
        "revenue", "n_orders")
      .orderBy("g_prio", "g_status", "o_orderpriority", "o_orderstatus")
  }

  /** q63 — time-series gap filling (pandas `resample`/`asfreq`): a
    * dense per-user daily calendar between each user's first and last
    * active day, zero-filling silent days — what every
    * activity/retention series needs before rolling math. The
    * calendar is `sequence(d0, d1)` exploded per user (fan-out
    * bounded by the date span, not the data) joined back to the
    * per-day counts on (user, day) — aggregation and join both keyed,
    * nothing global. */
  val q63 = QueryDef(
    "q63_daily_gap_fill",
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |      FROM d GROUP BY 1),
      |cal AS (SELECT user_id,
      |  CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
      |    AS day FROM b)
      |SELECT c.user_id, c.day, COALESCE(d.n, 0) AS n_events
      |FROM cal c LEFT JOIN d ON c.user_id = d.user_id AND c.day = d.day
      |ORDER BY c.user_id, c.day""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val cal = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("day"))
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("user_id", "day")
  }

  /** q64 — cohort retention: users cohorted by first-active day, then
    * distinct active users per (cohort, day-offset) for the first
    * week — the retention matrix. Two keyed aggregations + one keyed
    * join; the distinct-user count shuffles on (cohort, offset) with
    * partial distinct-aggregation map-side. */
  val q64 = QueryDef(
    "q64_cohort_retention",
    """WITH f AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      |  FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |r AS (
      |  SELECT f.cohort_day, (a.day - f.cohort_day) AS day_offset,
      |    a.user_id
      |  FROM a JOIN f ON a.user_id = f.user_id)
      |SELECT cohort_day, day_offset, COUNT(DISTINCT user_id) AS n_active
      |FROM r WHERE day_offset <= 7
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val active = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    active.join(first, Seq("user_id"))
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long")
          .as("day_offset"), col("user_id"))
      .filter(col("day_offset") <= 7)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** q65 — sequential funnel with per-step time bounds: first view →
    * first click within 24h of it → first purchase within 24h of
    * that. Each step is one keyed aggregate over events semi-joined
    * to the previous step's survivors (state flows forward as a
    * per-user scalar, never a row explosion); the final counts are
    * three scalars cross-joined into one row. */
  val q65 = QueryDef(
    "q65_funnel",
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |    AND e.ts <= v.t_view + INTERVAL 24 HOUR GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |    AND e.ts <= c.t_click + INTERVAL 24 HOUR GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |  (SELECT COUNT(*) FROM c) AS n_view_click,
      |  (SELECT COUNT(*) FROM p) AS n_view_click_purchase""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    def step(prev: DataFrame, prevTs: String, evType: String,
             as: String): DataFrame =
      ev.filter(col("event_type") === evType)
        .join(prev, Seq("user_id"))
        .filter(col("ts") > col(prevTs) &&
          col("ts") <= col(prevTs) + expr("INTERVAL 24 HOUR"))
        .groupBy(col("user_id")).agg(min(col("ts")).as(as))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = step(v, "t_view", "click", "t_click")
    val p = step(c, "t_click", "purchase", "t_purchase")
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  /** q68 — snapshot diff (CDC-style drift detection): the keep-latest
    * purchase state per user as of an earlier cutoff vs now, full
    * keyed compare classifying each key `added` / `changed` /
    * `unchanged` — the reprocessing/monitoring primitive for any
    * slowly-changing keyed state. Both snapshots are one keyed window
    * each; the compare is a single keyed left join. */
  val q68 = QueryDef(
    "q68_snapshot_diff",
    """WITH pur AS (
      |  SELECT user_id, ts, event_id, value FROM events
      |  WHERE event_type = 'purchase'),
      |h AS (
      |  SELECT user_id, value AS v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM pur WHERE ts < TIMESTAMP '2024-01-29') WHERE rn = 1),
      |f AS (
      |  SELECT user_id, value AS v FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM pur) WHERE rn = 1)
      |SELECT f.user_id,
      |  CASE WHEN h.user_id IS NULL THEN 'added'
      |       WHEN h.v <> f.v THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM f LEFT JOIN h ON f.user_id = h.user_id
      |ORDER BY f.user_id""".stripMargin) { (s, d) =>
    def latest(df: DataFrame): DataFrame =
      Dedup.keepLatest(df, "user_id", "ts", tieBreak = Seq("event_id"))
        .select(col("user_id"), col("value").as("v"))
    val pur = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    val h = latest(pur.filter(col("ts") < lit("2024-01-29").cast("timestamp")))
      .withColumnRenamed("v", "hv").withColumnRenamed("user_id", "h_user")
    latest(pur)
      .join(h, col("user_id") === col("h_user"), "left")
      .select(col("user_id"),
        when(col("h_user").isNull, "added")
          .when(col("hv") =!= col("v"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy("user_id")
  }

  /** q69 — IQR outlier fences (the numeric data-quality screen): per
    * event type, Tukey's 1.5·IQR fence from exact interpolated
    * quartiles, then a second pass counting rows outside it. The
    * 5-row quantile table broadcasts; the fence thresholds go through
    * the portable rounding so the comparison operands are
    * engine-identical. */
  val q69 = QueryDef(
    "q69_outlier_fence",
    """WITH q AS (
      |  SELECT event_type,
      |    CAST(FLOOR(quantile_cont(value, 0.25)*100 + 0.5) AS BIGINT)/100.0 AS q1,
      |    CAST(FLOOR(quantile_cont(value, 0.75)*100 + 0.5) AS BIGINT)/100.0 AS q3
      |  FROM events WHERE value IS NOT NULL GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE e.value > q.q3 + 1.5*(q.q3 - q.q1))
      |    AS n_high,
      |  COUNT(*) FILTER (WHERE e.value < q.q1 - 1.5*(q.q3 - q.q1))
      |    AS n_low
      |FROM events e JOIN q ON e.event_type = q.event_type
      |WHERE e.value IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).filter(col("value").isNotNull)
    val q = ev.groupBy(col("event_type"))
      .agg(
        Exact.round2(percentile(col("value"), lit(0.25))).as("q1"),
        Exact.round2(percentile(col("value"), lit(0.75))).as("q3"))
    ev.join(broadcast(q), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(when(col("value") >
          col("q3") + lit(1.5) * (col("q3") - col("q1")), 1)).as("n_high"),
        count(when(col("value") <
          col("q1") - lit(1.5) * (col("q3") - col("q1")), 1)).as("n_low"))
      .orderBy("event_type")
  }

  /** q72 — hopping (sliding) windows in BATCH: 6-hour windows sliding
    * every 3 hours over event time via Spark's `window()` function —
    * the batch twin of the streaming T4 rolling aggregate. Each event
    * lands in exactly width/slide = 2 windows (a bounded, plan-visible
    * Expand — row fan-out ×2, then one keyed shuffle with partial
    * aggregation). Window starts are 1970-epoch aligned on both
    * engines; emitted as epoch seconds so the comparison is
    * timezone-representation-free. */
  val q72 = QueryDef(
    "q72_hopping_windows",
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(FLOOR(EPOCH(ts) / 10800) * 10800 AS BIGINT) AS s0
      |  FROM events),
      |x AS (
      |  SELECT user_id, unnest([s0, s0 - 10800]) AS wstart FROM e)
      |SELECT wstart AS window_start_s, wstart + 21600 AS window_end_s,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM x GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours", "3 hours"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        col("window.start").cast("long").as("window_start_s"),
        col("window.end").cast("long").as("window_end_s"),
        col("n_events"), col("n_users"))
      .orderBy("window_start_s")
  }

  /** q74 — Slowly-Changing-Dimension Type-2 history build: per
    * customer, the order-priority attribute's validity intervals —
    * dedup to one state per effective date (max orderkey wins),
    * collapse no-change runs with a lag comparison, then derive
    * `valid_to` as the next change's `valid_from` (lead) and flag the
    * open-ended current row. The warehouse upsert pattern (Kimball
    * SCD2) as pure declarative windows: all three windows share the
    * customer partition key, so the whole history build is ONE
    * shuffle on `o_custkey` + sorts — no self-join, no MERGE. */
  /** Full-rebuild SCD2 oracle SQL — shared by q74 (direct build) and
    * q186 (incremental merge: the merge must equal the rebuild). */
  private val scd2RebuildSql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderpriority AS prio, o_orderdate AS eff,
      |    o_orderkey,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
      |                       ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |seq AS (
      |  SELECT o_custkey, prio, eff,
      |    LAG(prio) OVER (PARTITION BY o_custkey ORDER BY eff) AS prev
      |  FROM o WHERE rn = 1),
      |chg AS (
      |  SELECT o_custkey, prio, eff FROM seq
      |  WHERE prev IS NULL OR prio <> prev)
      |SELECT o_custkey AS custkey, prio AS priority,
      |  CAST(eff AS DATE) AS valid_from,
      |  CAST(LEAD(eff) OVER (PARTITION BY o_custkey ORDER BY eff) AS DATE)
      |    AS valid_to,
      |  CASE WHEN LEAD(eff) OVER (PARTITION BY o_custkey ORDER BY eff)
      |         IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM chg ORDER BY custkey, valid_from""".stripMargin

  /** Collapse per-(custkey, eff) states into SCD2 rows: drop states
    * equal to their predecessor, then valid_from/valid_to/is_current
    * via custkey-keyed windows. Input: (o_custkey, prio, eff). Shared
    * by q74 (full build) and q186 (affected-key rebuild). */
  private def scd2Collapse(states: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy(col("o_custkey")).orderBy(col("eff"))
    states
      .withColumn("prev", lag(col("prio"), 1).over(wSeq))
      .filter(col("prev").isNull || col("prio") =!= col("prev"))
      .withColumn("nxt", lead(col("eff"), 1).over(wSeq))
      .select(col("o_custkey").as("custkey"), col("prio").as("priority"),
        to_date(col("eff")).as("valid_from"),
        to_date(col("nxt")).as("valid_to"),
        when(col("nxt").isNull, 1).otherwise(0).as("is_current"))
  }

  private def scd2States(orders: DataFrame): DataFrame =
    Dedup.keepLatestBy(
      orders.select(col("o_custkey"), col("o_orderpriority").as("prio"),
        col("o_orderdate").as("eff"), col("o_orderkey")),
      Seq("o_custkey", "eff"), Seq(col("o_orderkey").desc))
      .select(col("o_custkey"), col("prio"), col("eff"))

  val q74 = QueryDef("q74_scd2_priority", scd2RebuildSql) { (s, d) =>
    scd2Collapse(scd2States(Tables.orders(s, d)))
      .orderBy("custkey", "valid_from")
  }

  /** q75 — event-transition matrix (first-order Markov model of user
    * behavior): per user, the (event → next event) bigram via a lead
    * window ordered by (ts, event_id), then transition counts and an
    * EXACT integer per-source probability (`cnt·10⁶ div total` —
    * portable, no float division). One shuffle on user_id for the
    * lead, one map-side-combined shuffle on the 5×5 transition key;
    * the window ships one user's events per task, so the plan holds
    * at any user count. */
  val q75 = QueryDef(
    "q75_event_transitions",
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS dst
      |  FROM events),
      |c AS (
      |  SELECT event_type AS src, dst, COUNT(*) AS cnt
      |  FROM s WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, cnt,
      |  CAST((cnt * 1000000) // SUM(cnt) OVER (PARTITION BY src)
      |    AS BIGINT) AS prob_ppm
      |FROM c ORDER BY src, dst""".stripMargin) { (s, d) =>
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(wU).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prob_ppm", expr(
        "(cnt * 1000000) div sum(cnt) over (partition by src)"))
      .orderBy("src", "dst")
  }

  /** q78 — heavy-hitter key profiler (the skew diagnostic that feeds
    * [[graft.functions.Skew]]'s salting decision): top-20 keys by
    * event count with exact ppm share of total. One map-side-combined
    * shuffle on the key; the global total is a one-row broadcast. At
    * 100 TB the same report runs unchanged — the groupBy output is
    * |keys| rows, and only 20 survive the ordered limit (Spark plans
    * TakeOrderedAndProject: no global sort materializes). */
  val q78 = QueryDef(
    "q78_heavy_hitters",
    """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
      |SELECT user_id, cnt,
      |  CAST((cnt * 1000000) // (SELECT total FROM t) AS BIGINT)
      |    AS share_ppm
      |FROM c ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin) { (s, d) =>
    val c = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val t = Tables.events(s, d).agg(count(lit(1)).as("total"))
    c.crossJoin(broadcast(t))
      .select(col("user_id"), col("cnt"),
        expr("(cnt * 1000000) div total").as("share_ppm"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(20)
  }

  /** q80 — GROUPED as-of join (composite equi-keys + time
    * inequality): every order annotated with the same customer's
    * previous order OF THE SAME PRIORITY CLASS — the multi-key
    * point-in-time lookup ([[graft.functions.AsOf.asofJoin]] with
    * `keys = (custkey, priority)`); DuckDB mirrors it with a native
    * two-equality ASOF LEFT JOIN. Same single-shuffle union+window
    * plan as q51, just a wider partition key — no range-join
    * amplification at any key cardinality. Right side deduped per
    * (keys, date) by max orderkey, as the operator contract
    * requires. */
  val q80 = QueryDef(
    "q80_grouped_asof",
    """WITH r AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate AS eff,
      |    o_totalprice,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY o_custkey, o_orderpriority, o_orderdate
      |      ORDER BY o_orderkey DESC) AS rn
      |  FROM orders),
      |rd AS (
      |  SELECT o_custkey, o_orderpriority, eff,
      |    CAST(eff AS DATE) AS prev_date, o_totalprice AS prev_price
      |  FROM r WHERE rn = 1)
      |SELECT l.o_orderkey, l.o_custkey, l.o_orderpriority AS prio,
      |  rd.prev_date, rd.prev_price
      |FROM orders l ASOF LEFT JOIN rd
      |  ON l.o_custkey = rd.o_custkey
      | AND l.o_orderpriority = rd.o_orderpriority
      | AND l.o_orderdate > rd.eff
      |ORDER BY l.o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val rd = Dedup.keepLatestBy(o,
        Seq("o_custkey", "o_orderpriority", "o_orderdate"),
        Seq(col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderpriority"),
        col("o_orderdate").as("eff"),
        to_date(col("o_orderdate")).as("prev_date"),
        col("o_totalprice").as("prev_price"))
    graft.functions.AsOf.asofJoin(
      o.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_orderdate")),
      rd, Seq("o_custkey", "o_orderpriority"),
      "o_orderdate", "eff", Seq("prev_date", "prev_price"),
      strict = true)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority").as("prio"),
        col("prev_date"), col("prev_price"))
      .orderBy("o_orderkey")
  }

  /** q81 — equi-width histogram with a DYNAMIC range: pass 1 computes
    * global min/max (a one-row broadcast, like q69's fences), pass 2
    * bins every order into 20 equal-width buckets with the max edge
    * clamped into the last bin. Both passes are map-side-combined
    * single shuffles; the bin expression is the identical IEEE
    * subtract/divide/floor tree on both engines, so bucket boundaries
    * are bit-exact. The profiling primitive behind histogram-driven
    * optimizers and data-quality dashboards. */
  val q81 = QueryDef(
    "q81_value_histogram",
    """WITH s AS (
      |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |  FROM orders),
      |b AS (
      |  SELECT CASE WHEN hi = lo THEN 0 ELSE LEAST(CAST(FLOOR(
      |    (o_totalprice - lo) / ((hi - lo) / 20.0)) AS BIGINT), 19)
      |    END AS bin
      |  FROM orders, s)
      |SELECT bin, COUNT(*) AS n FROM b GROUP BY bin ORDER BY bin"""
      .stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val stats = o.agg(min(col("o_totalprice")).as("lo"),
      max(col("o_totalprice")).as("hi"))
    o.crossJoin(broadcast(stats))
      // hi == lo (degenerate range, e.g. a filtered-down table) makes
      // the width 0: Spark's floor(x/0.0)=NaN casts to 0 while DuckDB
      // ERRORS on CAST(NaN AS BIGINT) — guard both sides identically
      // so the engines stay defined and equal everywhere
      .select(when(col("hi") === col("lo"), lit(0L)).otherwise(least(
        floor((col("o_totalprice") - col("lo"))
          / ((col("hi") - col("lo")) / lit(20.0))).cast("long"),
        lit(19L))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .orderBy("bin")
  }

  /** q108 — sequential smoothing as a per-key array fold: integer
    * exponential moving "average" (alpha = 1/2 via floor-halving:
    * `s := (s + cents) // 2`) over each user's event values in
    * (ts, event_id) order. Recurrences don't fit window frames, but
    * they DO fit a per-key fold: sort_array over the user's
    * (time-ordered) events then one codegen'd `aggregate` lambda —
    * exact integer state, so both engines replay the identical
    * sequence. Scale: one keyed shuffle; the fold is per-user and
    * user event lists are bounded (the q36 histogram argument). All
    * values are non-negative cents, so floor and truncating division
    * agree across engines. */
  val q108 = QueryDef(
    "q108_ewm_smoothing",
    """WITH v AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |l AS (
      |  SELECT user_id,
      |    list(cents ORDER BY t, event_id) AS vs,
      |    COUNT(*) AS n
      |  FROM v GROUP BY user_id)
      |SELECT user_id, CAST(n AS BIGINT) AS n_events,
      |  CAST(list_reduce(vs, (acc, x) -> (acc + x) // 2) AS BIGINT)
      |    AS ewm_cents
      |FROM l ORDER BY user_id LIMIT 20""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("t"), col("event_id"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
          .as("rec"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        expr("aggregate(slice(recs, 2, size(recs) - 1)," +
          " recs[0].cents, (acc, x) -> (acc + x.cents) div 2)")
          .as("ewm_cents"))
      .orderBy(col("user_id"))
      .limit(20)
  }

  /** q111 — bloom-filtered fact↔dim join (§2.7 join family, scale row):
    * the explicit form of Spark's `InjectRuntimeFilter`. The urgent-
    * orders dim folds its keys into ONE bloom bitset (a bounded binary
    * cell — see [[org.apache.spark.sql.graft.GraftBloom]]); the bitset
    * screens lineitem BEFORE the join shuffle, so ~4/5 of the fact
    * never enters the exchange. Bloom false positives are removed by
    * the real join, making the result EXACTLY the plain join — which is
    * the oracle: DuckDB runs the unfiltered join and the hashes must
    * match. Plan pinned by PlanSpec (might_contain on the fact scan
    * side). */
  val q111 = QueryDef(
    "q111_bloom_join",
    """SELECT l_returnflag,
      |  COUNT(*) AS n_lines,
      |  COUNT(DISTINCT o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    org.apache.spark.sql.graft.GraftBloom
      .bloomFilteredJoin(Tables.lineitem(s, d), dim, "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(dec2(col("l_extendedprice")) *
          (dec2(lit(1)) - dec2(col("l_discount")))).cast("double")
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** q133 — top-k per group as a BOUNDED-STATE aggregate
    * ([[graft.functions.TopK]] — design, shuffle accounting, and the
    * honest comparison against Spark 4's own InferWindowGroupLimit
    * rewrite there): top-3 spenders per nation, shipping at most k
    * rows per nation per partition and merging buffers. EXACT (not a
    * sketch): per-partial top-k under a total order loses nothing.
    * Spend is snapped to integer cents (q89's rule) so sums are
    * order-independent; ties break to the lower custkey inside the
    * aggregate — the same (value desc, key) pin the oracle's window
    * spells out. */
  val q133 = QueryDef(
    "q133_topk_aggregate",
    """WITH c AS (
      |  SELECT o_custkey,
      |    CAST(FLOOR(CAST(o_totalprice AS DOUBLE)*100 + 0.5) AS BIGINT)
      |      AS cents
      |  FROM orders),
      |s AS (
      |  SELECT cu.c_nationkey, c.o_custkey AS custkey,
      |    CAST(SUM(c.cents) AS BIGINT) AS spend_cents
      |  FROM c JOIN customer cu ON c.o_custkey = cu.c_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT c_nationkey, custkey, spend_cents,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |      ORDER BY spend_cents DESC, custkey) AS rnk
      |  FROM s)
      |SELECT c_nationkey, rnk, custkey, spend_cents
      |FROM r WHERE rnk <= 3
      |ORDER BY c_nationkey, rnk""".stripMargin) { (s, d) =>
    val spend = Tables.orders(s, d)
      .select(col("o_custkey"),
        floor(col("o_totalprice").cast("double") * 100 + lit(0.5))
          .cast("long").as("cents"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg(sum(col("cents")).as("spend_cents"))
    graft.functions.TopK.perGroup(spend, Seq(col("c_nationkey")),
        col("spend_cents"), col("o_custkey"), k = 3)
      .select(col("c_nationkey"), col("rnk"), col("id").as("custkey"),
        col("ord").as("spend_cents"))
      .orderBy(col("c_nationkey"), col("rnk"))
  }

  /** q182 — first-order Markov next-event model: train/eval split and
    * accuracy census (the q75 transition matrix turned into an
    * evaluated PREDICTOR — the simplest next-action baseline a
    * recommender is judged against): transitions whose target falls
    * before Jan 22 train the model (argmax next per prev, ties to the
    * lexicographically smallest next — deterministic), later
    * transitions evaluate it; per-prev accuracy in exact ppm. Pairs
    * are user-keyed lead() windows (never partition-less); the model
    * is a |types|² frame, broadcast. A prev unseen in training scores
    * no prediction and is excluded identically on both engines (inner
    * join). */
  val q182 = QueryDef(
    "q182_markov_eval",
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type FROM events),
      |b AS (
      |  SELECT event_type AS prev,
      |    LEAD(event_type) OVER w AS next,
      |    LEAD(CAST(ts AS DATE)) OVER w AS nday
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |bb AS (SELECT prev, next, nday FROM b WHERE next IS NOT NULL),
      |tr AS (
      |  SELECT prev, next, COUNT(*) AS c FROM bb
      |  WHERE nday < DATE '2024-01-22' GROUP BY 1, 2),
      |md AS (
      |  SELECT prev, next AS predicted FROM (
      |    SELECT prev, next,
      |      ROW_NUMBER() OVER (PARTITION BY prev ORDER BY c DESC, next)
      |        AS rn
      |    FROM tr) WHERE rn = 1),
      |ev AS (
      |  SELECT prev, next FROM bb WHERE nday >= DATE '2024-01-22')
      |SELECT ev.prev AS prev_type, md.predicted,
      |  CAST(COUNT(*) AS BIGINT) AS n_eval,
      |  CAST(SUM(CASE WHEN ev.next = md.predicted THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN ev.next = md.predicted THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
      |FROM ev JOIN md ON ev.prev = md.prev
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val bb = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("prev"))
      .withColumn("next", lead(col("prev"), 1).over(w))
      .withColumn("nday", lead(col("ts").cast("date"), 1).over(w))
      .filter(col("next").isNotNull)
      .select(col("prev"), col("next"), col("nday"))
    val tr = bb.filter(col("nday") < lit("2024-01-22").cast("date"))
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("c"))
    val md = tr
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("prev"))
          .orderBy(col("c").desc, col("next"))))
      .filter(col("rn") === 1)
      .select(col("prev"), col("next").as("predicted"))
    bb.filter(col("nday") >= lit("2024-01-22").cast("date"))
      .join(broadcast(md), Seq("prev"))
      .groupBy(col("prev").as("prev_type"), col("predicted"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("next") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_eval"))
      .orderBy("prev_type")
  }

  /** q183 — per-type daily activity TREND via exact-integer OLS (the
    * drift detector a monitoring stack fits on every metric series):
    * daily event counts per type regressed on the day index,
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *
    * with every moment an exact integer sum (two keyed aggs) and only
    * the final ratio taken as floor(1000·num/den) on doubles — exact
    * integer operands, identical IEEE754 division on both engines, so
    * negative slopes need no div-vs-floor care. Scale: the series
    * frame is |types|·|days| rows; the whole query is two
    * map-side-combined censuses. */
  val q183 = QueryDef(
    "q183_daily_trend",
    """WITH s AS (
      |  SELECT event_type, CAST(ts AS DATE) - DATE '2024-01-01' AS x,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM s GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT event_type, n,
      |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
      |  CAST(FLOOR(1000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx))
      |    AS BIGINT) AS slope_milli
      |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
    val series = Tables.events(s, d)
      .select(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("x"))
      .groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("y"))
    series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      // x values are distinct per group, so n >= 2 ⟹ slope_den > 0;
      // a one-day type would otherwise divide by zero (null on Spark,
      // a cast error in DuckDB — a data-dependent engine divergence)
      .filter(col("n") >= 2)
      .select(col("event_type"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        floor(lit(1000.0) *
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
          .cast("long").as("slope_milli"))
      .orderBy("event_type")
  }

  /** q186 — INCREMENTAL SCD2 merge (the lakehouse MERGE pattern q74
    * only builds from scratch): the "stored" dimension is the SCD2
    * built from orders before 1997; the "batch" is everything after.
    * The merge touches ONLY affected customers — stored rows for
    * untouched keys pass through verbatim (anti-join), affected keys
    * re-collapse their stored change-states plus the batch's new
    * states (collapse composes: the stored states are already
    * alternating, so re-collapsing drops exactly the batch states
    * equal to the customer's current stored value, and closes the
    * stored open row when the batch supersedes it).
    *
    * The ORACLE IS THE FULL REBUILD — q74's SQL verbatim — so the
    * driver proves merge ≡ rebuild row-for-row, the invariant that
    * makes incremental maintenance trustworthy. Scale: the rebuild
    * work is proportional to the AFFECTED slice (batch keys), not the
    * dimension — the entire point of the merge at 100 TB. */
  val q186 = QueryDef("q186_scd2_merge", scd2RebuildSql) { (s, d) =>
    val cutoff = lit("1997-01-01").cast("date")
    val orders = Tables.orders(s, d)
    val stored = scd2Collapse(scd2States(
      orders.filter(col("o_orderdate") < cutoff)))
      .localCheckpoint() // the "stored table" stand-in: materialized
      .transform(graft.functions.Checkpoints.pin)
    val batchStates = scd2States(orders.filter(col("o_orderdate") >= cutoff))
    val affected = batchStates.select(col("o_custkey")).distinct()
    val rebuiltAffected = scd2Collapse(
      stored.join(affected, stored("custkey") === affected("o_custkey"))
        .select(col("custkey").as("o_custkey"),
          col("priority").as("prio"),
          col("valid_from").cast("timestamp").as("eff"))
        .unionByName(batchStates))
    val untouched = stored.join(affected,
      stored("custkey") === affected("o_custkey"), "left_anti")
    untouched.unionByName(rebuiltAffected)
      .orderBy("custkey", "valid_from")
  }

  /** q187 — inter-event BURSTINESS per event type (index of
    * dispersion D = Var/Mean of the inter-arrival gaps; D ≈ 1 is
    * Poisson, D ≫ 1 is bursty — the traffic-shape diagnostic behind
    * capacity planning and bot detection): per (user, type)
    * consecutive gaps in integer MINUTES (µs epoch diff, integer
    * division — minutes keep Σg² within exact-double range at any
    * realistic volume), three exact integer moments per type, and
    *
    *   D_milli = floor(1000·(n·Σg² − (Σg)²) / ((n−1)·Σg))
    *
    * as one identical IEEE754 expression on both engines. User-keyed
    * lag window + one map-side-combined census. */
  val q187 = QueryDef(
    "q187_burstiness",
    """WITH g AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - LAG(epoch_us(ts)) OVER
      |      (PARTITION BY user_id, event_type ORDER BY ts, event_id))
      |      // 60000000 AS gap
      |  FROM events),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(gap) AS BIGINT) AS sg,
      |    CAST(SUM(gap * gap) AS BIGINT) AS sgg
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_gaps, sg, sgg,
      |  CAST(FLOOR(1000.0 * (n_gaps * sgg - sg * sg)
      |    / ((n_gaps - 1) * sg)) AS BIGINT) AS dispersion_milli
      |FROM m WHERE n_gaps >= 2 AND sg > 0
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), col("user_id"), col("event_id"),
        col("ts"), unix_micros(col("ts")).as("us"))
      .withColumn("gap",
        expr("(us - lag(us) over (partition by user_id, event_type " +
          "order by ts, event_id)) div 60000000"))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sgg"))
      // n_gaps=1 or all-zero gaps → zero denominator; Spark yields
      // null where DuckDB errors casting inf/NaN to BIGINT, so the
      // degenerate groups are excluded identically on both engines
      .filter(col("n_gaps") >= 2 && col("sg") > 0)
      .select(col("event_type"), col("n_gaps"), col("sg"), col("sgg"),
        floor(lit(1000.0) *
          (col("n_gaps") * col("sgg") - col("sg") * col("sg")) /
          ((col("n_gaps") - 1) * col("sg"))).cast("long")
          .as("dispersion_milli"))
      .orderBy("event_type")
  }

  /** q188 — Bloom-filter FALSE-POSITIVE audit (the q152/q171
    * sketch-accuracy treatment applied to membership): build a
    * PORTABLE bloom over the urgent-order keys — bit positions are
    * the four md5 hex-slice u32s mod m = 16384, the exact Cm.sketch
    * hashing contract, so DuckDB rebuilds the identical bitset — then
    * probe every NON-member key and measure the observed FP rate.
    * q111 trusts the bloom-screened join because the real join
    * removes false positives; this query measures what that screen
    * actually costs in passed-through rows, the number a 100-TB plan
    * uses to size m. Census: members, bits set, probes, false
    * positives, fp ppm — one row, all exact integers. Scale: the
    * bitset frame is ≤ m rows (broadcast); probing is one keyed join
    * of the ×4-exploded probe stream against it. */
  val q188 = QueryDef(
    "q188_bloom_fp_audit", {
      val m = 16384
      def slices(from: String, cols: String) = (0 until 4).map(i =>
        s"SELECT $cols ${TextQueries.hexU32Sql(1 + 8 * i)} % $m AS bit" +
          s" FROM $from").mkString("\n  UNION ALL ")
      s"""WITH u AS (
         |  SELECT o_orderkey AS key FROM orders
         |  WHERE o_orderpriority = '1-URGENT'),
         |hu AS (SELECT md5(CAST(key AS VARCHAR)) AS hx FROM u),
         |ub AS (
         |  ${slices("hu", "")}),
         |bs AS (SELECT DISTINCT bit FROM ub),
         |p AS (
         |  SELECT o_orderkey AS key FROM orders
         |  WHERE o_orderpriority <> '1-URGENT'),
         |hp AS (SELECT key, md5(CAST(key AS VARCHAR)) AS hx FROM p),
         |pb AS (
         |  ${slices("hp", "key,")}),
         |mt AS (
         |  SELECT pb.key, COUNT(*) AS hits
         |  FROM pb JOIN bs USING (bit) GROUP BY 1),
         |fp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_fp FROM mt
         |       WHERE hits = 4),
         |c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members FROM u),
         |c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bits_set FROM bs),
         |c3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM p)
         |SELECT n_members, n_bits_set, n_probes, n_fp,
         |  CAST(n_fp * 1000000 // n_probes AS BIGINT) AS fp_ppm
         |FROM c1, c2, c3, fp""".stripMargin
    }) { (s, d) =>
    val m = 16384
    def bits(key: org.apache.spark.sql.Column) = {
      val hx = md5(key.cast("string"))
      array((0 until 4).map(i =>
        conv(substring(hx, 1 + 8 * i, 8), 16, 10).cast("long") % m): _*)
    }
    val orders = Tables.orders(s, d)
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("key"))
    // pinned: the ≤m-row bitset feeds BOTH the broadcast probe join
    // and the n_bits_set census — unpinned, each consumer replayed
    // the member md5+explode+distinct chain (round-12 phase 3; the
    // q257 max-crossJoin replay mechanism)
    val bitsSet = graft.functions.Checkpoints.pin(
      urgent.select(explode(bits(col("key"))).as("bit"))
        .distinct().localCheckpoint())
    val probes = orders.filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey").as("key"))
    val nFp = probes
      .select(col("key"), explode(bits(col("key"))).as("bit"))
      .join(broadcast(bitsSet), Seq("bit"))
      .groupBy(col("key")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === 4)
      .agg(count(lit(1)).as("n_fp"))
    urgent.agg(count(lit(1)).as("n_members"))
      .crossJoin(bitsSet.agg(count(lit(1)).as("n_bits_set")))
      .crossJoin(probes.agg(count(lit(1)).as("n_probes")))
      .crossJoin(nFp)
      .withColumn("fp_ppm", expr("n_fp * 1000000 div n_probes"))
  }

  /** q194 — LINEAR time-series interpolation (pandas
    * `interpolate(method='linear')` — the imputation step q63's
    * zero-fill deliberately avoids): per user, interior missing
    * calendar days get `⌊va + (vb−va)·(x−a)/(b−a)⌋` between their
    * nearest known neighbors; leading/trailing gaps stay unfilled (no
    * extrapolation, the pandas contract). Neighbors come from FOUR
    * ignore-null window functions over ONE user-keyed ordering (prev
    * value/day from the preceding frame, next from the following) —
    * one shuffle, no self-join; the oracle derives the same neighbors
    * by correlated min/max subqueries, so the window decomposition is
    * checked against the definition, not against itself. Integer
    * cents with one exact-operand IEEE754 division. */
  val q194 = QueryDef(
    "q194_linear_interpolation",
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) - DATE '2024-01-01' AS d,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL),
      |k AS (
      |  SELECT user_id, d, CAST(SUM(c) AS BIGINT) AS cents
      |  FROM e GROUP BY 1, 2),
      |b AS (
      |  SELECT user_id, MIN(d) AS dmin, MAX(d) AS dmax FROM k GROUP BY 1),
      |cal AS (
      |  SELECT user_id, unnest(range(dmin, dmax + 1)) AS d FROM b),
      |miss AS (
      |  SELECT cal.user_id, cal.d FROM cal
      |  LEFT JOIN k ON cal.user_id = k.user_id AND cal.d = k.d
      |  WHERE k.d IS NULL),
      |pv AS (
      |  SELECT m.user_id, m.d,
      |    (SELECT MAX(k2.d) FROM k k2
      |     WHERE k2.user_id = m.user_id AND k2.d < m.d) AS pd,
      |    (SELECT MIN(k3.d) FROM k k3
      |     WHERE k3.user_id = m.user_id AND k3.d > m.d) AS nd
      |  FROM miss m),
      |j AS (
      |  SELECT pv.user_id, pv.d, pv.pd, pv.nd,
      |    ka.cents AS va, kb.cents AS vb
      |  FROM pv
      |  JOIN k ka ON ka.user_id = pv.user_id AND ka.d = pv.pd
      |  JOIN k kb ON kb.user_id = pv.user_id AND kb.d = pv.nd)
      |SELECT user_id, CAST(d AS BIGINT) AS day_idx,
      |  CAST(pd AS BIGINT) AS prev_day, CAST(nd AS BIGINT) AS next_day,
      |  CAST(FLOOR(va + CAST((vb - va) * (d - pd) AS DOUBLE) / (nd - pd))
      |    AS BIGINT) AS interp_cents
      |FROM j ORDER BY user_id, day_idx""".stripMargin) { (s, d) =>
    val k = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("d"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy(col("user_id"), col("d")).agg(sum(col("c")).as("cents"))
    val cal = k.groupBy(col("user_id"))
      .agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      .select(col("user_id"),
        explode(sequence(col("dmin"), col("dmax"))).as("d"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = w.rowsBetween(1, Window.unboundedFollowing)
    cal.join(k, Seq("user_id", "d"), "left_outer")
      .withColumn("va", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("cents").isNotNull, col("d")),
        ignoreNulls = true).over(wPrev))
      .withColumn("vb", first(col("cents"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("cents").isNotNull, col("d")),
        ignoreNulls = true).over(wNext))
      .filter(col("cents").isNull && col("pd").isNotNull &&
        col("nd").isNotNull)
      .select(col("user_id"), col("d").as("day_idx"),
        col("pd").as("prev_day"), col("nd").as("next_day"),
        floor(col("va") +
          ((col("vb") - col("va")) * (col("d") - col("pd"))).cast("double") /
            (col("nd") - col("pd"))).cast("long").as("interp_cents"))
      .orderBy("user_id", "day_idx")
  }

  /** q195 — cohort retention DECAY fit (the one-number summary of
    * q64's retention matrix a growth dashboard actually tracks):
    * per cohort, ln(active users) regressed on the day offset over
    * offsets 1–7 — exponential decay appears as a straight line on
    * the milli-nat grid, so the exact-integer OLS of q183/q184 fits
    * it with one final IEEE754 ratio. decay_milli ≈ −1000·λ per day;
    * cohorts need ≥ 4 retention points to fit (deterministic floor).
    * Scale: rides q64's keyed census; the fit frame is |cohorts|·7
    * rows. */
  val q195 = QueryDef(
    "q195_retention_decay", {
      import graft.functions.LangModel.mnatSql
      s"""WITH f AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (
        |  SELECT f.cohort_day, (a.day - f.cohort_day) AS day_offset,
        |    a.user_id
        |  FROM a JOIN f ON a.user_id = f.user_id),
        |c AS (
        |  SELECT cohort_day, day_offset,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM r WHERE day_offset BETWEEN 1 AND 7 GROUP BY 1, 2),
        |g AS (
        |  SELECT cohort_day, CAST(day_offset AS BIGINT) AS x,
        |    ${mnatSql("n_active")} AS y
        |  FROM c),
        |m AS (
        |  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM g GROUP BY 1 HAVING COUNT(*) >= 4)
        |SELECT CAST(cohort_day AS DATE) AS cohort_day, n,
        |  CAST(FLOOR(1000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx))
        |    AS BIGINT) AS decay_milli
        |FROM m ORDER BY cohort_day""".stripMargin
    }) { (s, d) =>
    import graft.functions.LangModel.mnat
    val ev = Tables.events(s, d)
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val c = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .join(first, Seq("user_id"))
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long")
          .as("day_offset"), col("user_id"))
      .filter(col("day_offset").between(1, 7))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    c.select(col("cohort_day"), col("day_offset").as("x"),
        mnat(col("n_active")).as("y"))
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 4)
      .select(col("cohort_day"), col("n"),
        floor(lit(1000.0) *
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
          .cast("long").as("decay_milli"))
      .orderBy("cohort_day")
  }

  /** q214 — A/B experiment analysis: two-proportion z-test per metric.
    *
    * Variant assignment is the production-correct deterministic hash
    * split ([[graft.curation.Curation.contentU32]] parity — the same
    * user always lands in the same arm, on any engine); the metric
    * family is "user's total value in event type m ≥ $550", one
    * conversion flag per (user, metric). The test statistic is
    * reported as z² (≡ the 2×2 χ² with 1 dof): z² =
    * (p̂₁−p̂₀)²/(p̄(1−p̄)(1/n₀+1/n₁)), computed as ONE float expression
    * over exact-integer counts — identical operation order on both
    * engines, floored to the milli grid — with significance at the
    * χ²₁ 95 % critical value 3.841. Degenerate arms (pooled rate 0 or
    * 1, where the statistic is undefined) are filtered on BOTH
    * engines.
    *
    * Scale: per-(user, metric) totals are one map-side-combinable
    * keyed agg; arm censuses collapse that to 2 rows per metric via
    * conditional aggregation (no pivot shuffle); the z² arithmetic
    * runs on the |metrics|-row frame. The A/B readout over 100 TB of
    * raw events is exactly these two keyed aggs. */
  val q214 = QueryDef(
    "q214_ab_test",
    s"""WITH uu AS (
      |  SELECT event_type AS metric, user_id,
      |    CASE WHEN SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
      |      >= 55000 THEN 1 ELSE 0 END AS conv
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      |hv AS (
      |  SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS hx
      |  FROM (SELECT DISTINCT user_id FROM events
      |        WHERE user_id IS NOT NULL)),
      |vv AS (SELECT user_id, ${TextQueries.hexU32Sql(1)} % 2 AS variant
      |  FROM hv),
      |u AS (
      |  SELECT metric, uu.user_id, variant, conv
      |  FROM uu JOIN vv ON uu.user_id = vv.user_id),
      |arms AS (
      |  SELECT metric,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n0,
      |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END)
      |      AS BIGINT) AS x0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END)
      |      AS BIGINT) AS x1
      |  FROM u GROUP BY 1)
      |SELECT metric, n0, x0, n1, x1,
      |  (1000000 * x0) // n0 AS p0_ppm,
      |  (1000000 * x1) // n1 AS p1_ppm,
      |  CAST(FLOOR(1000.0 *
      |    (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
      |    * (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
      |    / ((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 / n0 + 1.0 / n1))) AS BIGINT) AS z2_milli,
      |  CASE WHEN CAST(FLOOR(1000.0 *
      |    (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
      |    * (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
      |    / ((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
      |      * (1.0 / n0 + 1.0 / n1))) AS BIGINT) >= 3841
      |    THEN 1 ELSE 0 END AS significant
      |FROM arms
      |WHERE n0 > 0 AND n1 > 0 AND x0 + x1 > 0 AND x0 + x1 < n0 + n1
      |ORDER BY metric""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d).filter(col("user_id").isNotNull)
      .groupBy(col("event_type").as("metric"), col("user_id"))
      .agg(when(sum(expr("cast(floor(value * 100 + 0.5) as bigint)"))
        >= 55000L, 1L).otherwise(0L).as("conv"))
      .withColumn("variant",
        graft.curation.Curation.contentU32(col("user_id")) % 2L)
    val arms = u.groupBy(col("metric"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L))
          .as("x0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L))
          .as("x1"))
    val dx = col("x1").cast("double") / col("n1") -
      col("x0").cast("double") / col("n0")
    val pbar = (col("x0") + col("x1")).cast("double") /
      (col("n0") + col("n1"))
    val z2 = floor(lit(1000.0) * dx * dx /
      (pbar * (lit(1.0) - pbar) *
        (lit(1.0) / col("n0") + lit(1.0) / col("n1")))).cast("long")
    arms
      .filter(col("n0") > 0 && col("n1") > 0 &&
        col("x0") + col("x1") > 0 &&
        col("x0") + col("x1") < col("n0") + col("n1"))
      .select(col("metric"), col("n0"), col("x0"), col("n1"), col("x1"),
        expr("(1000000 * x0) div n0").as("p0_ppm"),
        expr("(1000000 * x1) div n1").as("p1_ppm"),
        z2.as("z2_milli"),
        when(z2 >= 3841L, 1L).otherwise(0L).as("significant"))
      .orderBy(col("metric"))
  }

  /** q215 — CUSUM changepoint detection on the daily event series
    * (Page 1954): the drift alarm for a data pipeline's volume
    * monitor — "did this event type's daily rate shift, and when?".
    *
    * Two-pass form kept EXACT: with daily counts x_t (t = 1..n,
    * cumulative c_t, total S), the mean-removed cumulative sum scaled
    * by n is C_t = n·c_t − t·S — an integer. The changepoint estimate
    * is argmax_t |C_t| (earliest t on ties, pinned by the rank
    * window's tie-break), with the before/after daily means reported
    * in milli-events — the classic offline CUSUM estimator (the MLE
    * for a single mean shift under the normal model).
    *
    * Scale: the daily census is a map-side-combinable keyed agg; the
    * cumsum/argmax windows are partitioned per event type over
    * |days|-row frames (bounded by the calendar, not the data); at
    * 100 TB only the day census touches the raw table. */
  val q215 = QueryDef(
    "q215_cusum_changepoint",
    """WITH dx AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |cs AS (
      |  SELECT event_type, day, x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS t,
      |    CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
      |    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM dx),
      |cu AS (
      |  SELECT event_type, day, t, c, s, n, n * c - t * s AS cus,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ABS(n * c - t * s) DESC, t) AS rk
      |  FROM cs)
      |SELECT event_type, n AS n_days, s AS total_events,
      |  ABS(cus) AS cusum_max, t AS cp_idx, day AS cp_day,
      |  (1000 * c) // t AS mean_before_milli,
      |  CASE WHEN n > t THEN (1000 * (s - c)) // (n - t) ELSE NULL END
      |    AS mean_after_milli
      |FROM cu WHERE rk = 1 ORDER BY event_type""".stripMargin) {
    (s, d) =>
    val dx = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val byType = Window.partitionBy("event_type")
    val ordered = byType.orderBy("day")
    val cs = dx.select(col("event_type"), col("day"), col("x"),
      row_number().over(ordered).cast("long").as("t"),
      sum(col("x")).over(ordered.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)).as("c"),
      sum(col("x")).over(byType).as("s"),
      count(lit(1)).over(byType).as("n"))
    val cu = cs.withColumn("cus",
        col("n") * col("c") - col("t") * col("s"))
      .withColumn("rk", row_number().over(
        byType.orderBy(abs(col("cus")).desc, col("t"))))
    cu.filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("s").as("total_events"), abs(col("cus")).as("cusum_max"),
        col("t").as("cp_idx"), col("day").as("cp_day"),
        expr("(1000 * c) div t").as("mean_before_milli"),
        when(col("n") > col("t"),
          expr("(1000 * (s - c)) div (n - t)"))
          .otherwise(lit(null).cast("long")).as("mean_after_milli"))
      .orderBy(col("event_type"))
  }

  /** q216 — position-based (U-shaped) multi-touch attribution: each
    * purchase distributes its value over the user's view/click
    * touches in the prior 7 days — 40 % to the first touch, 40 % to
    * the last, 20 % split over the middle (the standard marketing
    * position model; q53 is the plain last-window count form). Credit
    * shares are exact ppm integers: the middle split uses integer
    * div and hands its remainder to the FIRST touch, so every
    * conversion's credits sum to exactly 1 000 000; attributed value
    * is Σ credit·cents in micro-cent-ppm units, exact.
    *
    * Scale: the 7-day pairing rides [[graft.functions.Intervals
    * .rangeJoin]] — time-bucketed equi-join, never a nested loop;
    * the position window is partitioned per conversion and bounded
    * by a user's WEEKLY activity (behavioral, not corpus-size,
    * growth; a service with bot-grade users caps the window with a
    * top-N — the q133 machinery — before crediting). Final census is
    * one keyed agg over channels. */
  val q216 = QueryDef(
    "q216_position_attribution",
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, event_id AS tid, event_type AS channel,
      |    epoch_us(ts) AS tus
      |  FROM events WHERE event_type IN ('view', 'click')),
      |pr AS (
      |  SELECT p.event_id, p.cents, t.channel, t.tid, t.tus
      |  FROM p JOIN t ON t.user_id = p.user_id
      |   AND t.tus >= p.us - 604800000000 AND t.tus < p.us),
      |kk AS (
      |  SELECT event_id, cents, channel,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_id
      |      ORDER BY tus, tid) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY event_id) AS BIGINT) AS k
      |  FROM pr),
      |cr AS (
      |  SELECT channel, cents,
      |    CAST(CASE WHEN k = 1 THEN 1000000
      |         WHEN k = 2 THEN 500000
      |         WHEN rn = 1 THEN 400000 + 200000 % (k - 2)
      |         WHEN rn = k THEN 400000
      |         ELSE 200000 // (k - 2) END AS BIGINT) AS credit
      |  FROM kk)
      |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(credit) AS BIGINT) AS share_ppm,
      |  CAST(SUM(credit * cents) AS BIGINT) AS attributed_microcents
      |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("tid"),
        col("event_type").as("channel"), col("us"))
    val pairs = graft.functions.Intervals.rangeJoin(
      purchases, touches, keys = Seq("user_id"),
      leftTsUs = "us", rightTsUs = "us",
      lowerUs = -604800L * 1000 * 1000, upperUs = 0L)
    val wConv = Window.partitionBy("event_id")
    val kk = pairs.select(col("event_id"), col("cents"),
      col("r_channel").as("channel"),
      row_number().over(wConv.orderBy(col("r_us"), col("r_tid")))
        .cast("long").as("rn"),
      count(lit(1)).over(wConv).as("k"))
    val cr = kk.select(col("channel"), col("cents"),
      when(col("k") === 1, lit(1000000L))
        .when(col("k") === 2, lit(500000L))
        .when(col("rn") === 1, lit(400000L) + expr("200000 % (k - 2)"))
        .when(col("rn") === col("k"), lit(400000L))
        .otherwise(expr("200000 div (k - 2)")).as("credit"))
    cr.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).as("share_ppm"),
        sum(col("credit") * col("cents")).as("attributed_microcents"))
      .orderBy(col("channel"))
  }

  /** q217 — hash-partition skew census: the shuffle-balance
    * diagnostic behind every "do I need salting?" decision (q89's
    * salted agg, q105's salted join, q157's sketch-driven variant).
    * For each candidate partition count P, the census hashes every
    * row's key on the engine-portable [[graft.curation.Curation
    * .contentU32]] grid, mod-P buckets it, and reports used
    * partitions, max/min load, and max/mean imbalance in ppm — the
    * straggler multiplier a reducer stage would see at that width.
    *
    * Scale: one projection + one keyed agg per census row; the ×|P|
    * explode is over a 3-element literal array. At 100 TB this is
    * exactly the query you run BEFORE picking
    * spark.sql.shuffle.partitions for a hot pipeline stage — load
    * estimates come from the same one pass the engine would already
    * make. Near-uniform ppm values here are the expected hash answer;
    * the census earns its keep when a natural key (not a hash) is the
    * partitioner candidate. */
  val q217 = QueryDef(
    "q217_partition_skew",
    s"""WITH h AS (
      |  SELECT ${TextQueries.hexU32Sql(1)} AS u32 FROM (
      |    SELECT md5(CAST(user_id AS VARCHAR)) AS hx
      |    FROM events WHERE user_id IS NOT NULL)),
      |pl AS (
      |  SELECT CAST(pp.p AS BIGINT) AS p, u32 % CAST(pp.p AS BIGINT)
      |    AS part
      |  FROM h CROSS JOIN (SELECT unnest([8, 32, 128]) AS p) pp),
      |loads AS (
      |  SELECT p, part, CAST(COUNT(*) AS BIGINT) AS ld
      |  FROM pl GROUP BY 1, 2)
      |SELECT p AS n_partitions, CAST(COUNT(*) AS BIGINT) AS used,
      |  CAST(SUM(ld) AS BIGINT) AS total_rows,
      |  CAST(MAX(ld) AS BIGINT) AS max_load,
      |  CAST(MIN(ld) AS BIGINT) AS min_load,
      |  CAST((1000000 * MAX(ld) * p) // CAST(SUM(ld) AS BIGINT)
      |    AS BIGINT) AS imbalance_ppm
      |FROM loads GROUP BY p ORDER BY p""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(graft.curation.Curation.contentU32(col("user_id"))
        .as("u32"))
    val pl = h.select(col("u32"),
      explode(array(lit(8L), lit(32L), lit(128L))).as("p"))
      .select(col("p"), (col("u32") % col("p")).as("part"))
    pl.groupBy(col("p"), col("part"))
      .agg(count(lit(1)).as("ld"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("used"), sum(col("ld")).as("total_rows"),
        max(col("ld")).as("max_load"), min(col("ld")).as("min_load"))
      .select(col("p").as("n_partitions"), col("used"),
        col("total_rows"), col("max_load"), col("min_load"),
        expr("(1000000 * max_load * p) div total_rows")
          .as("imbalance_ppm"))
      .orderBy(col("n_partitions"))
  }

  /** q218 — triangle count + global clustering coefficient of the
    * co-purchase graph (parts sharing ≥ 2 orders): the graph-shape
    * census behind recommendation quality ("are co-purchases
    * clique-ish or star-ish?") and the third graph operator next to
    * PageRank (q82/q189) and connected components (q66).
    *
    * The Spark side enumerates triangles DEGREE-ORDERED (Schank &
    * Wagner 2005; the MapReduce form is Suri & Vassilvitskii 2011's
    * node-iterator++): orient every edge from the lower (degree, id)
    * endpoint to the higher, build wedges only from co-out-edges,
    * probe the directed edge set. Every triangle then has EXACTLY one
    * wedge apex (its order-minimal node), so the count needs no
    * dedup, and the wedge intermediate is Σ C(out-deg, 2) = O(m^1.5)
    * instead of Σ C(deg, 2) — the difference between a hub exploding
    * the shuffle and not. The ORACLE enumerates id-ordered (the
    * textbook x<y<z triple join): orientation changes the wedge
    * frame, provably NOT the triangle count, so the two forms must
    * agree — which is exactly what makes the cheap form safe to
    * ship. Order keys pack (degree, id) into one long (id < 10^6
    * here; at larger id spaces widen the packing, documented).
    *
    * Scale: distinct-(order, part) projection, per-order pair
    * explosion bounded by basket size (q36's contract), then three
    * keyed equi-joins on long keys. Wedge census = Σ C(dg, 2) from
    * the degree frame — never materialized as rows. */
  val q218 = QueryDef(
    "q218_triangle_census",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (
      |  SELECT a.p AS x, b.p AS y
      |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (
      |  SELECT v, CAST(COUNT(*) AS BIGINT) AS dg FROM (
      |    SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e)
      |  GROUP BY 1),
      |tri AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e1.y = e2.x
      |    JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
      |  (SELECT n_triangles FROM tri) AS n_triangles,
      |  (SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) FROM deg)
      |    AS n_wedges,
      |  CAST((3000 * (SELECT n_triangles FROM tri))
      |    // (SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) FROM deg)
      |    AS BIGINT) AS cc_milli,
      |  (SELECT CAST(MAX(dg) AS BIGINT) FROM deg) AS max_degree""".stripMargin) {
    (s, d) =>
    // Eager pinned checkpoints on the reused frames: e feeds deg, ed
    // and the edge census (3 consumers), ed feeds both sides of the
    // wedge self-join plus the closing join (3 consumers) — an
    // unpinned plan replays the distinct + pair self-join + agg chain
    // once per consumer (the q310/q309 recompute mechanism).
    // Round-12 phase 3: the (o, p) distinct and the pair census are
    // FUSED into declared keyed checkpoints — the o-partitioned li
    // makes the self-join exchange-free on both sides, and the pair
    // aggregation rides its x-keyed exchange (x ⊆ (x, y) clustering),
    // which also serves ed's x join.
    import org.apache.spark.sql.graft.PartitionedCheckpoint
    val li = graft.functions.Checkpoints.pin(
      PartitionedCheckpoint.byKeyWith(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        Seq("o"))(_.dropDuplicates()))
    val e = graft.functions.Checkpoints.pin(
      PartitionedCheckpoint.byKeyWith(
        li.as("a").join(li.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .select(col("a.p").as("x"), col("b.p").as("y")),
        Seq("x"))(
        _.groupBy(col("x"), col("y"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2).select(col("x"), col("y"))))
    val deg = e.select(col("x").as("v"))
      .union(e.select(col("y").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val keyed = deg.select(col("v"),
      (col("dg") * lit(1000000L) + col("v")).as("k"))
    // ks-keyed pin: both sides of the wedge self-join (on ks) and the
    // closing triangle join (on ks, kd — ks ⊆ keys clustering) plan
    // exchange-free
    val ed = graft.functions.Checkpoints.pin(
      PartitionedCheckpoint.byKey(e
        .join(keyed.select(col("v").as("x"), col("k").as("kx")), Seq("x"))
        .join(keyed.select(col("v").as("y"), col("k").as("ky")), Seq("y"))
        .select(
          when(col("kx") < col("ky"), col("kx")).otherwise(col("ky"))
            .as("ks"),
          when(col("kx") < col("ky"), col("ky")).otherwise(col("kx"))
            .as("kd")),
        Seq("ks")))
    val wedges = ed.as("e1").join(ed.as("e2"),
        col("e1.ks") === col("e2.ks") && col("e1.kd") < col("e2.kd"))
      .select(col("e1.kd").as("ks"), col("e2.kd").as("kd"))
    val tri = wedges.join(ed, Seq("ks", "kd"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeCensus = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("dg * (dg - 1) div 2")).as("n_wedges"),
      max(col("dg")).as("max_degree"))
    val edgeCensus = e.agg(count(lit(1)).as("n_edges"))
    nodeCensus.crossJoin(broadcast(edgeCensus))
      .crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        expr("(3000 * n_triangles) div n_wedges").as("cc_milli"),
        col("max_degree"))
  }

  /** q220 — log-log price elasticity of demand per brand: the
    * econometric read on the catalog ("how demand-sensitive is this
    * brand to price"), as the OLS slope of ln(quantity) on ln(unit
    * price) across a brand's parts. Rides the exact-integer OLS
    * pattern (q183/q184): both axes are [[graft.functions.LangModel
    * .mnat]] milli-nats of integer-valued columns (unit price =
    * integer-cents div integer-quantity), all four moments are
    * integer sums, and only the final slope ratio is (identical)
    * IEEE754. Since both axes carry the same ×1000 grid, the slope
    * IS the dimensionless elasticity in milli. Degenerate groups
    * (n < 2 or zero x-variance, where the ratio is undefined) are
    * filtered identically on both engines.
    *
    * Scale: per-part totals and per-brand moments are two map-side
    * combinable keyed aggs; the part→brand attach is an equi-join
    * with a broadcastable dimension. Nothing grows beyond |parts|. */
  val q220 = QueryDef(
    "q220_price_elasticity",
    s"""WITH pp AS (
      |  SELECT l_partkey AS pk,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents,
      |    CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
      |      AS qty
      |  FROM lineitem GROUP BY 1),
      |xy AS (
      |  SELECT p.p_brand AS brand,
      |    ${graft.functions.LangModel.mnatSql("pp.cents // pp.qty")} AS x,
      |    ${graft.functions.LangModel.mnatSql("pp.qty")} AS y
      |  FROM pp JOIN part p ON pp.pk = p.p_partkey
      |  WHERE pp.qty > 0 AND pp.cents // pp.qty > 0),
      |m AS (
      |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM xy GROUP BY 1)
      |SELECT brand, n,
      |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
      |  CAST(FLOOR(1000.0 * (n * sxy - sx * sy)
      |    / (n * sxx - sx * sx)) AS BIGINT) AS elasticity_milli
      |FROM m WHERE n >= 2 AND n * sxx - sx * sx > 0
      |ORDER BY brand""".stripMargin) { (s, d) =>
    import graft.functions.LangModel.mnat
    val pp = Tables.lineitem(s, d).groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
        .as("cents"),
        sum(expr("cast(floor(l_quantity + 0.5) as bigint)")).as("qty"))
    val xy = pp.join(Tables.part(s, d),
        col("pk") === col("p_partkey"))
      .filter(col("qty") > 0 && expr("cents div qty") > 0)
      .select(col("p_brand").as("brand"),
        mnat(expr("cents div qty")).as("x"), mnat(col("qty")).as("y"))
    xy.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2 &&
        col("n") * col("sxx") - col("sx") * col("sx") > 0)
      .select(col("brand"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        floor(lit(1000.0) *
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
          .cast("long").as("elasticity_milli"))
      .orderBy(col("brand"))
  }

  /** q221 — Poisson bootstrap (the streaming-friendly bootstrap:
    * Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", and the standard resampling trick at
    * terabyte scale): instead of drawing B resamples — impossible in
    * one pass — weight every row by an independent Poisson(1) count
    * per replicate and aggregate all B replicates in ONE map-side
    * combinable pass. Weights are DETERMINISTIC here: the Poisson
    * inverse-CDF is a literal integer-threshold ladder on the
    * [[graft.curation.Curation.contentU32]] grid of (order, b), so
    * both engines draw identical "randomness". Per-replicate means
    * are exact integer cents; the across-replicate variance is exact
    * integer arithmetic over those 100 means; the final standard
    * error takes one SQRT — IEEE-exact (correctly rounded by
    * requirement, unlike ln), so cross-engine equality holds without
    * a grid.
    *
    * Scale: the ×B explode is map-local; the (group, replicate)
    * census combines before the shuffle, so the shuffled state is
    * |groups|·B rows regardless of input size — the whole point of
    * the method at 100 TB. */
  val q221 = QueryDef(
    "q221_poisson_bootstrap",
    s"""WITH o AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS pri,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |ob AS (
      |  SELECT pri, cents, bb.b AS b,
      |    md5(CAST(k AS VARCHAR) || '_' || CAST(bb.b AS VARCHAR)) AS hx
      |  FROM o CROSS JOIN (SELECT unnest(range(0, 100)) AS b) bb),
      |w AS (
      |  SELECT pri, cents, b,
      |    CASE WHEN ${TextQueries.hexU32Sql(1)} < 1580030169 THEN 0
      |         WHEN ${TextQueries.hexU32Sql(1)} < 3160060338 THEN 1
      |         WHEN ${TextQueries.hexU32Sql(1)} < 3950075422 THEN 2
      |         WHEN ${TextQueries.hexU32Sql(1)} < 4213413784 THEN 3
      |         WHEN ${TextQueries.hexU32Sql(1)} < 4279248374 THEN 4
      |         WHEN ${TextQueries.hexU32Sql(1)} < 4292415292 THEN 5
      |         WHEN ${TextQueries.hexU32Sql(1)} < 4294609778 THEN 6
      |         WHEN ${TextQueries.hexU32Sql(1)} < 4294923276 THEN 7
      |         ELSE 8 END AS w
      |  FROM ob),
      |rep AS (
      |  SELECT pri, b, CAST(SUM(w * cents) AS BIGINT) AS swc,
      |    CAST(SUM(w) AS BIGINT) AS sw
      |  FROM w GROUP BY 1, 2),
      |base AS (
      |  SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
      |      AS mean_cents
      |  FROM o GROUP BY 1),
      |mm AS (
      |  SELECT rep.pri, b, swc // sw - base.mean_cents AS dv
      |  FROM rep JOIN base ON rep.pri = base.pri WHERE sw > 0),
      |agg AS (
      |  SELECT pri, CAST(COUNT(*) AS BIGINT) AS nb,
      |    CAST(SUM(dv) AS BIGINT) AS sd,
      |    CAST(SUM(dv * dv) AS BIGINT) AS sd2,
      |    CAST(MIN(dv) AS BIGINT) AS min_dv,
      |    CAST(MAX(dv) AS BIGINT) AS max_dv
      |  FROM mm GROUP BY 1)
      |SELECT base.pri AS priority, n_orders, mean_cents, nb,
      |  CAST((nb * sd2 - sd * sd) // (nb * (nb - 1)) AS BIGINT)
      |    AS boot_var_cents2,
      |  CAST(FLOOR(SQRT(CAST((nb * sd2 - sd * sd) // (nb * (nb - 1))
      |    AS DOUBLE))) AS BIGINT) AS boot_se_cents,
      |  CAST(mean_cents + min_dv AS BIGINT) AS min_m,
      |  CAST(mean_cents + max_dv AS BIGINT) AS max_m
      |FROM base JOIN agg ON base.pri = agg.pri
      |ORDER BY priority""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("pri"),
      expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        .as("cents"))
    // repartition BEFORE the ×100 explode: the parquet scan yields a
    // couple of input splits, and without this the 100× row blowup —
    // and its per-row md5 — stays on those few cores (measured: 70 s
    // vs ~3 s at sf0.1). One cheap shuffle of the un-exploded rows
    // buys full-width parallelism for the heavy projection.
    val ob = o.fanoutBy(col("k"))
      .withColumn("b", explode(sequence(lit(0L), lit(99L))))
      .withColumn("u32", graft.curation.Curation.contentU32(
        concat(col("k").cast("string"), lit("_"),
          col("b").cast("string"))))
    // Poisson(1) inverse CDF as u32 thresholds floor(CDF_k * 2^32):
    // 0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
    // 0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508 — the
    // same literal ladder in the oracle SQL; weights cap at 8.
    val w = ob.withColumn("w",
      when(col("u32") < 1580030169L, 0L)
        .when(col("u32") < 3160060338L, 1L)
        .when(col("u32") < 3950075422L, 2L)
        .when(col("u32") < 4213413784L, 3L)
        .when(col("u32") < 4279248374L, 4L)
        .when(col("u32") < 4292415292L, 5L)
        .when(col("u32") < 4294609778L, 6L)
        .when(col("u32") < 4294923276L, 7L)
        .otherwise(8L))
    val rep = w.groupBy(col("pri"), col("b"))
      .agg(sum(col("w") * col("cents")).as("swc"),
        sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
    val base = o.groupBy(col("pri"))
      .agg(count(lit(1)).as("n_orders"),
        expr("sum(cents) div count(1)").as("mean_cents"))
    // centered deviations keep sd2 ~ (spread)^2, not (mean)^2 — the
    // uncentered Σm² form sits within 2^63 only by luck of the data
    val mm = rep.join(broadcast(base.select(col("pri"),
        col("mean_cents"))), Seq("pri"))
      .select(col("pri"), expr("swc div sw - mean_cents").as("dv"))
    val agg = mm.groupBy(col("pri"))
      .agg(count(lit(1)).as("nb"), sum(col("dv")).as("sd"),
        sum(col("dv") * col("dv")).as("sd2"),
        min(col("dv")).as("min_dv"), max(col("dv")).as("max_dv"))
    base.join(agg, Seq("pri"))
      .select(col("pri").as("priority"), col("n_orders"),
        col("mean_cents"), col("nb"),
        expr("(nb * sd2 - sd * sd) div (nb * (nb - 1))")
          .as("boot_var_cents2"),
        floor(sqrt(expr(
          "cast((nb * sd2 - sd * sd) div (nb * (nb - 1)) as double)")))
          .cast("long").as("boot_se_cents"),
        (col("mean_cents") + col("min_dv")).as("min_m"),
        (col("mean_cents") + col("max_dv")).as("max_m"))
      .orderBy(col("priority"))
  }

  /** q222 — Kaplan–Meier survival curve of time-to-repurchase
    * (Kaplan & Meier 1958): the right-censoring-aware read on "how
    * long until a customer orders again" that q195's decay fit can't
    * give — a customer's LAST order isn't a non-event, it's an
    * observation cut short at the study end, and KM is the estimator
    * that uses it without bias. Per market segment: each consecutive-
    * order gap is an observed event at t = gap days; each customer's
    * tail (last order → corpus max date) enters as a censored
    * duration that keeps the customer in the at-risk denominator
    * until t. At each event time, at-risk n = subjects with duration
    * ≥ t; the survival product Π(1 − d/n) rides the
    * [[graft.functions.LangModel.mnat]] milli-nat grid as a window
    * cumsum of mnat(n−d) − mnat(n) — every term an integer, the q195
    * portability argument. Rows where n = d (everyone at risk dies —
    * survival hits exactly 0, log undefined) are excluded identically
    * on both engines; customers with no orders never enter (they were
    * never at risk).
    *
    * Scale: gaps are a customer-keyed lag window; the duration census
    * is one keyed agg; the at-risk/cumsum windows are partitioned by
    * segment over |distinct gaps| ≤ corpus-date-range rows (bounded
    * by construction, like q209's ≤24-row day frames); the study-end
    * date is a one-row broadcast frame. */
  val q222 = QueryDef(
    "q222_kaplan_meier",
    s"""WITH o AS (
      |  SELECT o_custkey AS ck, o_orderdate AS dt, o_orderkey AS ok
      |  FROM orders),
      |ev AS (
      |  SELECT ck, t, 1 AS ev FROM (
      |    SELECT ck, CAST(date_diff('day',
      |      LAG(dt) OVER (PARTITION BY ck ORDER BY dt, ok), dt)
      |      AS BIGINT) AS t
      |    FROM o) WHERE t IS NOT NULL),
      |cen AS (
      |  SELECT ck, CAST(date_diff('day', MAX(dt),
      |    (SELECT MAX(dt) FROM o)) AS BIGINT) AS t, 0 AS ev
      |  FROM o GROUP BY ck),
      |u AS (
      |  SELECT c.c_mktsegment AS segment, x.t, x.ev
      |  FROM (SELECT * FROM ev UNION ALL SELECT * FROM cen) x
      |  JOIN customer c ON x.ck = c.c_custkey),
      |ct AS (
      |  SELECT segment, t, CAST(SUM(ev) AS BIGINT) AS d_events,
      |    CAST(COUNT(*) - SUM(ev) AS BIGINT) AS censored,
      |    CAST(COUNT(*) AS BIGINT) AS tot
      |  FROM u GROUP BY 1, 2),
      |w AS (
      |  SELECT segment, t, d_events, censored,
      |    CAST(SUM(tot) OVER (PARTITION BY segment)
      |      - COALESCE(SUM(tot) OVER (PARTITION BY segment ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n_risk
      |  FROM ct),
      |sv AS (
      |  SELECT segment, t, d_events, censored, n_risk,
      |    CAST(SUM(CASE WHEN d_events > 0 AND n_risk > d_events
      |      THEN ${graft.functions.LangModel.mnatSql("n_risk - d_events")}
      |         - ${graft.functions.LangModel.mnatSql("n_risk")}
      |      ELSE 0 END) OVER (PARTITION BY segment ORDER BY t)
      |      AS BIGINT) AS log_surv_mnat
      |  FROM w)
      |SELECT segment, t AS t_days, n_risk, d_events, censored,
      |  log_surv_mnat
      |FROM sv WHERE d_events > 0 AND n_risk > d_events
      |ORDER BY segment, t_days""".stripMargin) { (s, d) =>
    import graft.functions.LangModel.mnat
    val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
      col("o_orderdate").as("dt"), col("o_orderkey").as("ok"))
    val wLag = Window.partitionBy(col("ck")).orderBy(col("dt"), col("ok"))
    val ev = o.withColumn("pd", lag(col("dt"), 1).over(wLag))
      .filter(col("pd").isNotNull)
      .select(col("ck"),
        datediff(col("dt"), col("pd")).cast("long").as("t"),
        lit(1L).as("ev"))
    val cen = o.groupBy(col("ck")).agg(max(col("dt")).as("lastd"))
      .crossJoin(broadcast(o.agg(max(col("dt")).as("maxd"))))
      .select(col("ck"),
        datediff(col("maxd"), col("lastd")).cast("long").as("t"),
        lit(0L).as("ev"))
    val u = ev.unionByName(cen)
      .join(Tables.customer(s, d).select(col("c_custkey"),
        col("c_mktsegment").as("segment")),
        col("ck") === col("c_custkey"))
    val ct = u.groupBy(col("segment"), col("t"))
      .agg(sum(col("ev")).as("d_events"),
        (count(lit(1)) - sum(col("ev"))).as("censored"),
        count(lit(1)).as("tot"))
    val wSeg = Window.partitionBy(col("segment"))
    val wCum = Window.partitionBy(col("segment")).orderBy(col("t"))
    val wPrev = wCum.rowsBetween(Window.unboundedPreceding, -1)
    ct.withColumn("n_risk", sum(col("tot")).over(wSeg) -
        coalesce(sum(col("tot")).over(wPrev), lit(0L)))
      .withColumn("log_surv_mnat",
        sum(when(col("d_events") > 0 && col("n_risk") > col("d_events"),
          mnat(col("n_risk") - col("d_events")) - mnat(col("n_risk")))
          .otherwise(0L)).over(wCum))
      .filter(col("d_events") > 0 && col("n_risk") > col("d_events"))
      .select(col("segment"), col("t").as("t_days"), col("n_risk"),
        col("d_events"), col("censored"), col("log_surv_mnat"))
      .orderBy(col("segment"), col("t_days"))
  }

  /** q225 — Holt double-exponential smoothing (level + trend) of each
    * order-priority's daily revenue series, with one-step-ahead MAE
    * and a 7-day forecast: the trend-aware upgrade of q108's simple
    * EWM (which a trending series systematically lags). α = 1/5,
    * β = 1/10, state in integer MILLI-cents:
    *   l_t = (1000·y_t + 4·(l+b)) /₅  ,  b_t = ((l_t − l) + 9·b) /₁₀
    * where /ₙ is floor-division made sign-safe by a large even offset
    * (numerator + n·10¹⁵, result − 10¹⁵): trend and forecast terms CAN
    * go negative, where Spark's truncating `div` and DuckDB's flooring
    * `//` disagree — the offset makes every numerator provably
    * positive (|state| ≪ 10¹⁴ at 1000× this revenue), where the two
    * agree. Recurrences don't fit window frames (the q108 argument):
    * Spark replays the fold as one codegen'd `aggregate` lambda per
    * series over the day-sorted array; the oracle replays the SAME
    * integer recurrence as a recursive CTE stepping the day index —
    * two mechanisms, one integer sequence, hash-equal by construction.
    *
    * Scale: the daily census is a map-side-combinable keyed agg; the
    * per-series fold carries O(1) state over |days| ≤ corpus-date-range
    * elements (bounded by construction, NOT by data volume — 100 TB
    * adds rows per day, not days). Series count = |priorities|. */
  val q225 = QueryDef(
    "q225_holt_smoothing",
    """WITH RECURSIVE daily AS (
      |  SELECT o_orderpriority AS pri, o_orderdate AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |obs AS (
      |  SELECT pri, ROW_NUMBER() OVER (PARTITION BY pri ORDER BY day)
      |    AS idx, y
      |  FROM daily),
      |st AS (
      |  SELECT pri, CAST(1 AS BIGINT) AS idx,
      |    CAST(y * 1000 AS BIGINT) AS l, CAST(0 AS BIGINT) AS b,
      |    CAST(0 AS BIGINT) AS sae
      |  FROM obs WHERE idx = 1
      |  UNION ALL
      |  SELECT o.pri, o.idx,
      |    CAST((1000 * o.y + 4 * (st.l + st.b) + 5000000000000000) // 5
      |      - 1000000000000000 AS BIGINT) AS l,
      |    CAST(((1000 * o.y + 4 * (st.l + st.b) + 5000000000000000) // 5
      |        - 1000000000000000 - st.l + 9 * st.b + 10000000000000000)
      |      // 10 - 1000000000000000 AS BIGINT) AS b,
      |    CAST(st.sae + ABS(1000 * o.y - (st.l + st.b)) AS BIGINT)
      |      AS sae
      |  FROM st JOIN obs o ON o.pri = st.pri AND o.idx = st.idx + 1),
      |fin AS (SELECT pri, CAST(MAX(idx) AS BIGINT) AS n FROM st
      |  GROUP BY 1)
      |SELECT st.pri AS priority, fin.n AS n_days,
      |  CAST((st.l + 1000000000000000000) // 1000 - 1000000000000000
      |    AS BIGINT) AS level_cents,
      |  st.b AS trend_milli,
      |  CAST((st.l + 7 * st.b + 1000000000000000000) // 1000
      |    - 1000000000000000 AS BIGINT) AS forecast7_cents,
      |  CAST(st.sae // (fin.n - 1) AS BIGINT) AS mae_milli
      |FROM st JOIN fin ON st.pri = fin.pri AND st.idx = fin.n
      |WHERE fin.n >= 2
      |ORDER BY priority""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"),
        col("o_orderdate").as("day"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("y"))
    daily.select(col("pri"), struct(col("day"), col("y")).as("rec"))
      .groupBy(col("pri"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"),
        count(lit(1)).as("n_days"))
      .filter(col("n_days") >= 2)
      .withColumn("st", expr(
        """aggregate(
          |  slice(recs, 2, size(recs) - 1),
          |  named_struct('l', recs[0].y * 1000L, 'b', 0L, 'sae', 0L),
          |  (acc, x) -> named_struct(
          |    'l', (1000L * x.y + 4L * (acc.l + acc.b)
          |          + 5000000000000000L) div 5 - 1000000000000000L,
          |    'b', ((1000L * x.y + 4L * (acc.l + acc.b)
          |           + 5000000000000000L) div 5 - 1000000000000000L
          |          - acc.l + 9L * acc.b + 10000000000000000L) div 10
          |         - 1000000000000000L,
          |    'sae', acc.sae + abs(1000L * x.y - (acc.l + acc.b))))
          |""".stripMargin))
      .select(col("pri").as("priority"), col("n_days"),
        expr("(st.l + 1000000000000000000L) div 1000" +
          " - 1000000000000000L").as("level_cents"),
        col("st.b").as("trend_milli"),
        expr("(st.l + 7L * st.b + 1000000000000000000L) div 1000" +
          " - 1000000000000000L").as("forecast7_cents"),
        expr("st.sae div (n_days - 1)").as("mae_milli"))
      .orderBy(col("priority"))
  }

  /** q229 — two-sample Kolmogorov–Smirnov drift test per segment
    * (before vs after 1998-04-01): the distribution-shape companion
    * to q153's binned PSI and q214's mean-rate z-test — KS catches a
    * drift that moves quantiles while preserving the mean, and needs
    * no binning choices. The statistic is EXACTLY integer: with
    * cumulative counts F_a, F_b over the merged value ladder,
    * D·n_a·n_b = max|F_a·n_b − F_b·n_a| — every term a count product,
    * so both engines agree bit-for-bit without any grid. Only the
    * α = 0.05 decision (D² vs 1.358²·(n_a+n_b)/(n_a·n_b)) is one
    * float comparison over those exact integers, the q214 z² pattern.
    *
    * Scale: the (segment, value) census comes FIRST (map-side
    * combinable agg), so the cumsum window is partitioned by segment
    * over |distinct cents values| rows — bounded by the PRICE DOMAIN,
    * not the row count: 100 TB adds weight per ladder rung, not
    * rungs. Totals join back as a |segments|-row broadcast. */
  val q229 = QueryDef(
    "q229_ks_drift",
    """WITH o AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN o_orderdate < TIMESTAMP '1998-04-01'
      |      THEN 1 ELSE 0 END AS ina
      |  FROM orders JOIN customer c ON o_custkey = c_custkey),
      |cnt AS (
      |  SELECT seg, v, CAST(SUM(ina) AS BIGINT) AS ca,
      |    CAST(COUNT(*) - SUM(ina) AS BIGINT) AS cb
      |  FROM o GROUP BY 1, 2),
      |tot AS (
      |  SELECT seg, CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb
      |  FROM cnt GROUP BY 1),
      |cum AS (
      |  SELECT seg, v,
      |    CAST(SUM(ca) OVER (PARTITION BY seg ORDER BY v) AS BIGINT)
      |      AS fa,
      |    CAST(SUM(cb) OVER (PARTITION BY seg ORDER BY v) AS BIGINT)
      |      AS fb
      |  FROM cnt),
      |dd AS (
      |  SELECT cum.seg,
      |    CAST(MAX(ABS(cum.fa * t.nb - cum.fb * t.na)) AS BIGINT)
      |      AS d_scaled
      |  FROM cum JOIN tot t ON cum.seg = t.seg GROUP BY 1)
      |SELECT t.seg AS segment, t.na AS n_before, t.nb AS n_after,
      |  dd.d_scaled,
      |  (1000000 * dd.d_scaled) // (t.na * t.nb) AS d_ppm,
      |  CAST(CASE WHEN CAST(dd.d_scaled AS DOUBLE)
      |      * CAST(dd.d_scaled AS DOUBLE)
      |      > 1.844164 * CAST(t.na + t.nb AS DOUBLE)
      |        * CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_95
      |FROM dd JOIN tot t ON dd.seg = t.seg
      |ORDER BY segment""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("v"),
        when(col("o_orderdate") < lit("1998-04-01").cast("timestamp"),
          1L).otherwise(0L).as("ina"))
    val cnt = o.groupBy(col("seg"), col("v"))
      .agg(sum(col("ina")).as("ca"),
        (count(lit(1)) - sum(col("ina"))).as("cb"))
    val tot = cnt.groupBy(col("seg"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val wCum = Window.partitionBy(col("seg")).orderBy(col("v"))
    val cum = cnt.select(col("seg"), col("v"),
      sum(col("ca")).over(wCum).as("fa"),
      sum(col("cb")).over(wCum).as("fb"))
    val dd = cum.join(broadcast(tot), Seq("seg"))
      .groupBy(col("seg"))
      .agg(max(abs(col("fa") * col("nb") - col("fb") * col("na")))
        .as("d_scaled"))
    dd.join(broadcast(tot), Seq("seg"))
      .select(col("seg").as("segment"), col("na").as("n_before"),
        col("nb").as("n_after"), col("d_scaled"),
        expr("(1000000 * d_scaled) div (na * nb)").as("d_ppm"),
        (col("d_scaled").cast("double") * col("d_scaled").cast("double")
          > lit(1.844164) * (col("na") + col("nb")).cast("double")
            * col("na").cast("double") * col("nb").cast("double"))
          .cast("long").as("reject_95"))
      .orderBy(col("segment"))
  }

  /** q231 — decision-stump training (exact CART split finding): the
    * simplest tree learner, trained wholly as a query — per market
    * segment, find the account-balance-bucket threshold that best
    * splits order value by SSE reduction. For a split (L, R),
    * minimizing SSE is maximizing S_L²/n_L + S_R²/n_R; with the
    * (segment, bucket) census cumsum'd along the bucket ladder, every
    * n and S is an exact integer, and the score is ONE float
    * expression over them (the q214/q229 pattern) ranked with a
    * (score desc, threshold) tie-break — both engines rank identical
    * doubles. Candidate thresholds are ladder rungs with both sides
    * non-empty; the winning stump reports its split, sizes, and
    * integer-cents leaf means. This is the per-feature inner loop of
    * every histogram-based GBDT (LightGBM/XGBoost hist mode) — at
    * scale you run it once per (feature, node) over the same census
    * shape.
    *
    * Scale: census-first (map-side agg) bounds the cumsum window by
    * the BUCKET DOMAIN per segment (the q229 ladder argument — ~10
    * rungs here), never the row count; totals broadcast back. */
  val q231 = QueryDef(
    "q231_decision_stump",
    """WITH o AS (
      |  SELECT c.c_mktsegment AS seg,
      |    (CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
      |      // 200000 AS f,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM orders JOIN customer c ON o_custkey = c_custkey),
      |cnt AS (
      |  SELECT seg, f, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS sy
      |  FROM o GROUP BY 1, 2),
      |tot AS (
      |  SELECT seg, CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(SUM(sy) AS BIGINT) AS st
      |  FROM cnt GROUP BY 1),
      |cum AS (
      |  SELECT seg, f AS thr,
      |    CAST(SUM(n) OVER (PARTITION BY seg ORDER BY f) AS BIGINT)
      |      AS nl,
      |    CAST(SUM(sy) OVER (PARTITION BY seg ORDER BY f) AS BIGINT)
      |      AS sl
      |  FROM cnt),
      |sc AS (
      |  SELECT cum.seg, cum.thr, cum.nl, cum.sl,
      |    t.nt - cum.nl AS nr, t.st - cum.sl AS sr,
      |    CAST(cum.sl AS DOUBLE) * CAST(cum.sl AS DOUBLE)
      |      / CAST(cum.nl AS DOUBLE)
      |    + CAST(t.st - cum.sl AS DOUBLE) * CAST(t.st - cum.sl AS DOUBLE)
      |      / CAST(t.nt - cum.nl AS DOUBLE) AS score
      |  FROM cum JOIN tot t ON cum.seg = t.seg
      |  WHERE cum.nl > 0 AND t.nt - cum.nl > 0),
      |best AS (
      |  SELECT seg, thr, nl, nr, sl, sr FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
      |      ORDER BY score DESC, thr) AS rn FROM sc) WHERE rn = 1)
      |SELECT seg AS segment, thr AS split_bucket,
      |  nl AS n_left, nr AS n_right,
      |  CAST(sl // nl AS BIGINT) AS mean_left_cents,
      |  CAST(sr // nr AS BIGINT) AS mean_right_cents
      |FROM best ORDER BY segment""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("(cast(floor(c_acctbal * 100 + 0.5) as bigint) + 100000)" +
          " div 200000").as("f"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("y"))
    val cnt = o.groupBy(col("seg"), col("f"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val tot = cnt.groupBy(col("seg"))
      .agg(sum(col("n")).as("nt"), sum(col("sy")).as("st"))
    val wCum = Window.partitionBy(col("seg")).orderBy(col("f"))
    val cum = cnt.select(col("seg"), col("f").as("thr"),
      sum(col("n")).over(wCum).as("nl"),
      sum(col("sy")).over(wCum).as("sl"))
    val sc = cum.join(broadcast(tot), Seq("seg"))
      .filter(col("nl") > 0 && col("nt") - col("nl") > 0)
      .select(col("seg"), col("thr"), col("nl"), col("sl"),
        (col("nt") - col("nl")).as("nr"),
        (col("st") - col("sl")).as("sr"),
        (col("sl").cast("double") * col("sl").cast("double")
          / col("nl").cast("double")
          + (col("st") - col("sl")).cast("double")
            * (col("st") - col("sl")).cast("double")
            / (col("nt") - col("nl")).cast("double")).as("score"))
    val wBest = Window.partitionBy(col("seg"))
      .orderBy(col("score").desc, col("thr"))
    sc.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("seg").as("segment"), col("thr").as("split_bucket"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        expr("sl div nl").as("mean_left_cents"),
        expr("sr div nr").as("mean_right_cents"))
      .orderBy(col("segment"))
  }

  /** q233 — Cochran–Mantel–Haenszel stratified A/B test: q214's
    * two-proportion test pooled ACROSS nation strata — the correct
    * pooling when arm mix differs by stratum (a naive pooled 2×2 is
    * Simpson's-paradox bait; CMH compares within strata and sums the
    * evidence). Per nation: a = conversions in arm 0, margins
    * (n₁, n₂, m₁, m₂, T); expectation and variance land on a
    * deterministic integer micro-grid — E_micro = 10⁶n₁m₁ div T,
    * V_micro = (10⁶n₁n₂ div T)·(10⁶m₁m₂ div T(T−1)) div 10⁶ (the
    * composed-grid form keeps every intermediate ≪ 2⁶³ where the
    * single-fraction form overflows) — so the cross-strata sums are
    * exact integers, immune to float summation order. Only the final
    * continuity-corrected χ²₁ = (|ΣA−ΣE|−½)²/ΣV is one float
    * expression over those sums (the q214/q229 discipline). Arms are
    * the q214 hash-parity assignment on the customer key; conversion
    * = customer ever placed an urgent/high order. Correctly reads as
    * an A/A null here.
    *
    * Scale: one keyed agg per customer, one per stratum, one global
    * fold — all map-side combinable; strata count bounds nothing but
    * the final 25-row frame. */
  val q233 = QueryDef(
    "q233_cmh_test",
    s"""WITH cust AS (
      |  SELECT o_custkey AS ck,
      |    MAX(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END) AS conv
      |  FROM orders GROUP BY 1),
      |hv AS (SELECT ck, conv, md5(CAST(ck AS VARCHAR)) AS hx
      |  FROM cust),
      |vv AS (SELECT ck, conv, ${TextQueries.hexU32Sql(1)} % 2
      |  AS variant FROM hv),
      |s AS (
      |  SELECT c.c_nationkey AS nat, vv.variant, vv.conv
      |  FROM vv JOIN customer c ON vv.ck = c.c_custkey),
      |tab AS (
      |  SELECT nat,
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n2,
      |    CAST(SUM(conv) AS BIGINT) AS m1,
      |    CAST(COUNT(*) - SUM(conv) AS BIGINT) AS m2,
      |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(COUNT(*) AS BIGINT) AS t
      |  FROM s GROUP BY 1),
      |g AS (
      |  SELECT nat, a,
      |    (1000000 * n1 * m1) // t AS e_micro,
      |    (((1000000 * n1 * n2) // t)
      |      * ((1000000 * m1 * m2) // (t * (t - 1)))) // 1000000
      |      AS v_micro
      |  FROM tab WHERE t >= 2 AND n1 > 0 AND n2 > 0),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
      |    CAST(SUM(a) AS BIGINT) AS sum_a,
      |    CAST(SUM(e_micro) AS BIGINT) AS sum_e_micro,
      |    CAST(SUM(v_micro) AS BIGINT) AS sum_v_micro,
      |    CAST(GREATEST(ABS(1000000 * SUM(a) - SUM(e_micro)) - 500000,
      |      0) AS BIGINT) AS num_micro
      |  FROM g)
      |SELECT n_strata, sum_a, sum_e_micro, sum_v_micro,
      |  CAST(FLOOR(1000.0 * CAST(num_micro AS DOUBLE)
      |    * CAST(num_micro AS DOUBLE)
      |    / (1000000.0 * CAST(sum_v_micro AS DOUBLE))) AS BIGINT)
      |    AS chi2_milli,
      |  CAST(CASE WHEN CAST(FLOOR(1000.0 * CAST(num_micro AS DOUBLE)
      |    * CAST(num_micro AS DOUBLE)
      |    / (1000000.0 * CAST(sum_v_micro AS DOUBLE))) AS BIGINT)
      |    >= 3841 THEN 1 ELSE 0 END AS BIGINT) AS reject_95
      |FROM f""".stripMargin) { (s, d) =>
    val cust = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(max(when(col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("conv"))
      .withColumn("variant",
        graft.curation.Curation.contentU32(col("ck")) % 2L)
    val tab = cust
      .join(Tables.customer(s, d), col("ck") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nat"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n2"),
        sum(col("conv")).as("m1"),
        (count(lit(1)) - sum(col("conv"))).as("m2"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L))
          .as("a"),
        count(lit(1)).as("t"))
    val g = tab.filter(col("t") >= 2 && col("n1") > 0 && col("n2") > 0)
      .select(col("a"),
        expr("(1000000 * n1 * m1) div t").as("e_micro"),
        expr("(((1000000 * n1 * n2) div t)" +
          " * ((1000000 * m1 * m2) div (t * (t - 1)))) div 1000000")
          .as("v_micro"))
    val f = g.agg(count(lit(1)).as("n_strata"),
        sum(col("a")).as("sum_a"),
        sum(col("e_micro")).as("sum_e_micro"),
        sum(col("v_micro")).as("sum_v_micro"))
      .withColumn("num_micro",
        greatest(abs(lit(1000000L) * col("sum_a") -
          col("sum_e_micro")) - lit(500000L), lit(0L)))
    val chi2 = floor(lit(1000.0) *
      col("num_micro").cast("double") * col("num_micro").cast("double")
      / (lit(1000000.0) * col("sum_v_micro").cast("double")))
      .cast("long")
    f.select(col("n_strata"), col("sum_a"), col("sum_e_micro"),
        col("sum_v_micro"), chi2.as("chi2_milli"),
        (chi2 >= 3841L).cast("long").as("reject_95"))
  }

  /** q236 — isotonic regression calibration (exact PAV solution via
    * the minimax identity): fit the best MONOTONE conversion-rate
    * curve over the account-balance ladder — the standard
    * classifier-calibration step (isotonic beats Platt when data is
    * plentiful) and the nonparametric answer to "does propensity
    * really rise with this score?". Instead of replaying PAV's
    * stack-based pooling (a sequential fold), the fitted value comes
    * from the closed form fitted(i) = max_{k≤i} min_{j≥i}
    * avg(y[k..j]) — which is pure dataframe algebra once the ladder
    * census is prefix-summed: interval averages are one bounded
    * non-equi self-join of the prefix frame, the inner min is a
    * per-k running min (keyed window), the outer max a keyed agg.
    * Averages are doubles OF exact integer sums compared identically
    * on both engines (the q229/q231 float discipline); output
    * monotonicity is guaranteed by the formula itself — a
    * self-evident correctness property the oracle re-derives.
    *
    * Scale: everything after the customer census lives on the
    * LADDER (≤45 rungs by construction — the q192 permille
    * argument): the two partition-less windows and the O(L²)
    * interval frame are ladder-bounded, NEVER data-bounded; 100 TB
    * changes the census weights, not the ladder. */
  val q236 = QueryDef(
    "q236_isotonic_calibration",
    """WITH cust AS (
      |  SELECT o_custkey AS ck,
      |    MAX(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END) AS conv
      |  FROM orders GROUP BY 1),
      |c2 AS (
      |  SELECT (CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT)
      |    + 100000) // 25000 AS b, cust.conv
      |  FROM cust JOIN customer c ON cust.ck = c.c_custkey),
      |cnt AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(conv) AS BIGINT) AS s
      |  FROM c2 GROUP BY 1),
      |p AS (
      |  SELECT b, CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS cn,
      |    CAST(SUM(s) OVER (ORDER BY b) AS BIGINT) AS cs
      |  FROM cnt),
      |kf AS (
      |  SELECT b AS kb,
      |    CAST(COALESCE(LAG(cn) OVER (ORDER BY b), 0) AS BIGINT)
      |      AS n0,
      |    CAST(COALESCE(LAG(cs) OVER (ORDER BY b), 0) AS BIGINT)
      |      AS s0
      |  FROM p),
      |m AS (
      |  SELECT kf.kb, p.b AS jb,
      |    CAST(p.cs - kf.s0 AS DOUBLE) / CAST(p.cn - kf.n0 AS DOUBLE)
      |      AS avg_d
      |  FROM kf JOIN p ON kf.kb <= p.b),
      |sm AS (
      |  SELECT kb, jb, MIN(avg_d) OVER (PARTITION BY kb ORDER BY jb
      |    DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      |  FROM m),
      |fit AS (SELECT jb AS b, MAX(v) AS f FROM sm GROUP BY 1)
      |SELECT cnt.b AS bucket, cnt.n, cnt.s AS conversions,
      |  (1000000 * cnt.s) // cnt.n AS raw_ppm,
      |  CAST(FLOOR(1000000 * fit.f) AS BIGINT) AS iso_ppm
      |FROM cnt JOIN fit ON cnt.b = fit.b
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val cust = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(max(when(col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("conv"))
    val cnt = cust
      .join(Tables.customer(s, d), col("ck") === col("c_custkey"))
      .select(expr("(cast(floor(c_acctbal * 100 + 0.5) as bigint)" +
        " + 100000) div 25000").as("b"), col("conv"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("s"))
    val wLad = Window.orderBy(col("b"))
    val p = cnt.select(col("b"), sum(col("n")).over(wLad).as("cn"),
      sum(col("s")).over(wLad).as("cs"))
    val kf = p.select(col("b").as("kb"),
      coalesce(lag(col("cn"), 1).over(wLad), lit(0L)).as("n0"),
      coalesce(lag(col("cs"), 1).over(wLad), lit(0L)).as("s0"))
    val m = kf.join(p, col("kb") <= col("b"))
      .select(col("kb"), col("b").as("jb"),
        ((col("cs") - col("s0")).cast("double")
          / (col("cn") - col("n0")).cast("double")).as("avg_d"))
    val wSm = Window.partitionBy(col("kb")).orderBy(col("jb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fit = m.withColumn("v", min(col("avg_d")).over(wSm))
      .groupBy(col("jb").as("b")).agg(max(col("v")).as("f"))
    cnt.join(fit, Seq("b"))
      .select(col("b").as("bucket"), col("n"),
        col("s").as("conversions"),
        expr("(1000000 * s) div n").as("raw_ppm"),
        floor(lit(1000000L) * col("f")).cast("long").as("iso_ppm"))
      .orderBy(col("bucket"))
  }

  /** q237 — exact Shapley-value channel attribution (Shapley 1953;
    * the GA4-style "data-driven attribution" upgrade of q216's fixed
    * 40/20/40 rule): each converting user's credit is split over
    * their touched channels by the exact Shapley value of a
    * coalition game whose worth is the noisy-or of empirical channel
    * conversion rates, v(S) = 1 − Π_{c∈S}(1 − r_c). "Touched" =
    * the channel is OVER-INDEXED for the user (n_c·k > total events
    * — scale-free, so touch-set variety survives any SF; a user
    * with a perfectly uniform profile touches nothing and drops out
    * identically on both engines). The whole computation is integer:
    * rates are exact ppm, v rides a deterministic ppm fold (multiply
    * then div 10⁶ per channel in sorted order), Shapley weights
    * |S|!(t−1−|S|)! are exact CASE factorials (t ≤ 5), and the
    * division by t! lands on the ppm grid. Enumeration is over
    * DISTINCT touch-sets (≤ 2^|channels| groups), each with its ≤ 32
    * masks — never per user.
    *
    * Scale: user censuses are keyed aggs; the subset/mask frames are
    * CHANNEL-VOCABULARY-bounded (2^|channels| · 2^t rows total,
    * constants at any data size); per-user work is one groupBy. The
    * noisy-or Δv is ≥ 0 by construction, so shares are well-formed. */
  val q237 = QueryDef(
    "q237_shapley_attribution",
    """WITH ev AS (
      |  SELECT user_id AS u, event_type AS ch,
      |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE user_id IS NOT NULL),
      |cnts AS (SELECT u, ch, CAST(COUNT(*) AS BIGINT) AS n FROM ev
      |  GROUP BY 1, 2),
      |uu AS (SELECT u, CAST(SUM(n) AS BIGINT) AS tot,
      |  CAST(COUNT(*) AS BIGINT) AS k FROM cnts GROUP BY 1),
      |touched AS (
      |  SELECT c.u, c.ch FROM cnts c JOIN uu ON c.u = uu.u
      |  WHERE c.n * uu.k > uu.tot),
      |uc AS (
      |  SELECT u, CASE WHEN SUM(cents) >= 330000 THEN 1 ELSE 0 END
      |    AS conv
      |  FROM ev GROUP BY 1),
      |rates AS (
      |  SELECT t.ch, CAST(COUNT(*) AS BIGINT) AS n_touch,
      |    CAST((1000000 * SUM(uc.conv)) // COUNT(*) AS BIGINT) AS r
      |  FROM touched t JOIN uc ON t.u = uc.u GROUP BY 1),
      |ts AS (
      |  SELECT t.u, STRING_AGG(t.ch, ',' ORDER BY t.ch) AS tkey
      |  FROM touched t JOIN uc ON t.u = uc.u
      |  WHERE uc.conv = 1 GROUP BY 1),
      |grp AS (SELECT tkey, CAST(COUNT(*) AS BIGINT) AS nconv FROM ts
      |  GROUP BY 1),
      |el AS (
      |  SELECT tkey, unnest(string_split(tkey, ',')) AS ch
      |  FROM (SELECT DISTINCT tkey FROM grp)),
      |elr AS (SELECT el.tkey, el.ch, rates.r FROM el
      |  JOIN rates ON el.ch = rates.ch),
      |garr AS (
      |  SELECT tkey, list(struct_pack(ch := ch, r := r) ORDER BY ch)
      |    AS arr, CAST(COUNT(*) AS BIGINT) AS t
      |  FROM elr GROUP BY 1),
      |masks AS (
      |  SELECT tkey, arr, t, CAST(unnest(range(0,
      |    CASE CAST(t AS INT) WHEN 1 THEN 2 WHEN 2 THEN 4
      |      WHEN 3 THEN 8 WHEN 4 THEN 16 ELSE 32 END)) AS BIGINT)
      |    AS mask
      |  FROM garr),
      |vm AS (
      |  SELECT tkey, arr, t, mask,
      |    1000000 - list_reduce(
      |      list_prepend(CAST(1000000 AS BIGINT), range(0, t)),
      |      (acc, x) -> CASE WHEN (mask // (CASE x WHEN 0 THEN 1
      |          WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8
      |          ELSE 16 END)) % 2 = 1
      |        THEN (acc * (1000000 - arr[CAST(x + 1 AS INT)].r))
      |          // 1000000
      |        ELSE acc END) AS v
      |  FROM masks),
      |pi AS (
      |  SELECT tkey, arr, t, mask, v,
      |    CAST(unnest(range(0, t)) AS BIGINT) AS i
      |  FROM vm),
      |pf AS (
      |  SELECT *, CASE i WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
      |    WHEN 3 THEN 8 ELSE 16 END AS p2
      |  FROM pi),
      |pj AS (
      |  SELECT pf.tkey, pf.t, pf.arr, pf.i, pf.mask,
      |    pf.v AS v0, vp.v AS v1
      |  FROM pf JOIN vm vp
      |    ON vp.tkey = pf.tkey AND vp.mask = pf.mask + pf.p2
      |  WHERE (pf.mask // pf.p2) % 2 = 0),
      |phis AS (
      |  SELECT tkey, t, arr[CAST(i + 1 AS INT)].ch AS ch,
      |    CAST(SUM(
      |      (CASE ((mask // 1) % 2 + (mask // 2) % 2 + (mask // 4) % 2
      |          + (mask // 8) % 2 + (mask // 16) % 2)
      |        WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6
      |        ELSE 24 END)
      |      * (CASE (t - 1 - ((mask // 1) % 2 + (mask // 2) % 2
      |          + (mask // 4) % 2 + (mask // 8) % 2 + (mask // 16) % 2))
      |        WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 6
      |        ELSE 24 END)
      |      * (v1 - v0)) AS BIGINT) AS phi_scaled
      |  FROM pj GROUP BY 1, 2, 3),
      |phi AS (
      |  SELECT tkey, ch,
      |    CAST(phi_scaled // (CASE CAST(t AS INT) WHEN 1 THEN 1
      |      WHEN 2 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 24 ELSE 120 END)
      |      AS BIGINT) AS phi_ppm
      |  FROM phis),
      |att AS (
      |  SELECT ch, CAST(SUM(grp.nconv * phi.phi_ppm) AS BIGINT)
      |    AS attributed_micro
      |  FROM phi JOIN grp ON phi.tkey = grp.tkey GROUP BY 1),
      |tot AS (SELECT CAST(SUM(attributed_micro) AS BIGINT) AS satt
      |  FROM att)
      |SELECT att.ch AS channel, rates.n_touch, rates.r AS rate_ppm,
      |  att.attributed_micro,
      |  CAST((1000000 * att.attributed_micro) // tot.satt AS BIGINT)
      |    AS share_ppm
      |FROM att JOIN rates ON att.ch = rates.ch CROSS JOIN tot
      |WHERE tot.satt > 0
      |ORDER BY channel""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id").as("u"), col("event_type").as("ch"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
    val cnts = ev.groupBy(col("u"), col("ch"))
      .agg(count(lit(1)).as("n"))
    val uu = cnts.groupBy(col("u"))
      .agg(sum(col("n")).as("tot"), count(lit(1)).as("k"))
    val touched = cnts.join(uu, Seq("u"))
      .filter(col("n") * col("k") > col("tot"))
      .select(col("u"), col("ch"))
    val uc = ev.groupBy(col("u"))
      .agg(when(sum(col("cents")) >= 330000L, 1L).otherwise(0L)
        .as("conv"))
    val rates = touched.join(uc, Seq("u")).groupBy(col("ch"))
      .agg(count(lit(1)).as("n_touch"),
        expr("(1000000 * sum(conv)) div count(1)").as("r"))
    val ts = touched.join(uc.filter(col("conv") === 1), Seq("u"))
      .groupBy(col("u"))
      .agg(array_join(sort_array(collect_list(col("ch"))), ",")
        .as("tkey"))
    val grp = ts.groupBy(col("tkey")).agg(count(lit(1)).as("nconv"))
    val garr = grp.select(col("tkey"))
      .withColumn("ch", explode(split(col("tkey"), ",")))
      .join(rates.select(col("ch"), col("r")), Seq("ch"))
      .groupBy(col("tkey"))
      .agg(sort_array(collect_list(struct(col("ch"), col("r"))))
        .as("arr"))
      .withColumn("t", size(col("arr")).cast("long"))
    val masks = garr.withColumn("mask", explode(expr(
      "sequence(0L, cast(case cast(t as int) when 1 then 1" +
        " when 2 then 3 when 3 then 7 when 4 then 15 else 31 end" +
        " as bigint))")))
    val vm = masks.withColumn("v", lit(1000000L) - expr(
      """aggregate(sequence(0, cast(t as int) - 1), 1000000L,
        |  (acc, x) -> IF((mask div (case x when 0 then 1L
        |      when 1 then 2L when 2 then 4L when 3 then 8L
        |      else 16L end)) % 2 = 1,
        |    (acc * (1000000L - element_at(arr, x + 1).r)) div 1000000L,
        |    acc))""".stripMargin))
    val pf = vm
      .withColumn("i", explode(expr("sequence(0L, t - 1)")))
      .withColumn("p2", expr("case i when 0 then 1L when 1 then 2L" +
        " when 2 then 4L when 3 then 8L else 16L end"))
      .filter(expr("(mask div p2) % 2 = 0"))
      .withColumn("maskp", col("mask") + col("p2"))
    val pj = pf.select(col("tkey"), col("t"), col("arr"), col("i"),
        col("mask"), col("v").as("v0"), col("maskp"))
      .join(vm.select(col("tkey"), col("mask").as("maskp"),
        col("v").as("v1")), Seq("tkey", "maskp"))
    val pop = "((mask div 1) % 2 + (mask div 2) % 2 + (mask div 4) % 2" +
      " + (mask div 8) % 2 + (mask div 16) % 2)"
    def factOf(e: String) = s"(case ($e) when 0 then 1L when 1 then 1L" +
      s" when 2 then 2L when 3 then 6L else 24L end)"
    val phis = pj.groupBy(col("tkey"), col("t"),
        expr("element_at(arr, cast(i + 1 as int)).ch").as("ch"))
      .agg(sum(expr(
        s"${factOf(pop)} * ${factOf(s"t - 1 - $pop")} * (v1 - v0)"))
        .as("phi_scaled"))
    val phi = phis.select(col("tkey"), col("ch"),
      expr("phi_scaled div (case cast(t as int) when 1 then 1L" +
        " when 2 then 2L when 3 then 6L when 4 then 24L" +
        " else 120L end)").as("phi_ppm"))
    val att = phi.join(grp, Seq("tkey")).groupBy(col("ch"))
      .agg(sum(col("nconv") * col("phi_ppm")).as("attributed_micro"))
    val tot = att.agg(sum(col("attributed_micro")).as("satt"))
    att.join(rates, Seq("ch")).crossJoin(broadcast(tot))
      .filter(col("satt") > 0)
      .select(col("ch").as("channel"), col("n_touch"),
        col("r").as("rate_ppm"), col("attributed_micro"),
        expr("(1000000 * attributed_micro) div satt").as("share_ppm"))
      .orderBy(col("channel"))
  }

  /** q240 — bucketed co-located fact-fact join under the oracle gate
    * ([[graft.sources.Bucketing]] — design and the no-exchange
    * contract there; BucketingSpec pins the plan): lineitem and
    * orders are written bucketed+sorted by the join key into the
    * session catalog, then joined WITHOUT a shuffle exchange on
    * either side — the recurring-join layout that at 100 TB turns an
    * hourly reshuffle-the-world job into streamed bucket pairs. The
    * oracle runs the SAME join over the plain parquet: bucketing
    * changes layout, never content — hash equality of the revenue
    * census IS the correctness statement (the q111 "exactly the plain
    * join" discipline).
    *
    * Scale: the write is one-time layout cost amortized over every
    * later join; the join reads matched buckets locally; only the
    * 5-row priority census shuffles. */
  val q240 = QueryDef(
    "q240_bucketed_join",
    """SELECT o_orderpriority AS priority,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |    AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.sources.Bucketing
    Bucketing.replaceBucketed(s,
      Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
          .as("cents")),
      "graft_q240_lineitem", "l_orderkey", buckets = 8)
    Bucketing.replaceBucketed(s,
      Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        col("o_orderpriority")),
      "graft_q240_orders", "l_orderkey", buckets = 8)
    Bucketing.bucketedJoin(s, "graft_q240_lineitem",
        "graft_q240_orders", "l_orderkey")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("cents")).as("revenue_cents"))
      .orderBy(col("priority"))
  }

  /** q241 — maximum drawdown per priority series (the classic
    * peak-to-trough risk statistic): for each order priority's daily
    * revenue, the largest drop from a running peak — where q215's
    * CUSUM finds WHEN a level shifted, drawdown reports the WORST
    * realized dip, with its trough day (earliest tie) and the peak it
    * fell from. Exact integer cents throughout: running max and
    * differences need no grid; the trough row is recovered by
    * re-joining the max (the q215 earliest-tie pin).
    *
    * Scale: one daily keyed census; the running-max window is
    * partitioned by priority over ≤ corpus-date-range rows (the q225
    * calendar bound); the argmax join is keyed on (priority, draw). */
  val q241 = QueryDef(
    "q241_max_drawdown",
    """WITH daily AS (
      |  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE)
      |    AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |dd AS (
      |  SELECT pri, day, y,
      |    CAST(MAX(y) OVER (PARTITION BY pri ORDER BY day) AS BIGINT)
      |      AS peak
      |  FROM daily),
      |mx AS (
      |  SELECT pri, CAST(MAX(peak - y) AS BIGINT) AS max_drawdown
      |  FROM dd GROUP BY 1),
      |tr AS (
      |  SELECT dd.pri, MIN(dd.day) AS trough_day
      |  FROM dd JOIN mx ON dd.pri = mx.pri
      |    AND dd.peak - dd.y = mx.max_drawdown
      |  GROUP BY 1)
      |SELECT tr.pri AS priority, mx.max_drawdown, tr.trough_day,
      |  dd.y AS trough_cents, dd.peak AS peak_cents
      |FROM tr JOIN mx ON tr.pri = mx.pri
      |JOIN dd ON dd.pri = tr.pri AND dd.day = tr.trough_day
      |ORDER BY priority""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("y"))
    val wPeak = Window.partitionBy(col("pri")).orderBy(col("day"))
    val dd = daily.withColumn("peak", max(col("y")).over(wPeak))
    val mx = dd.groupBy(col("pri"))
      .agg(max(col("peak") - col("y")).as("max_drawdown"))
    val tr = dd.join(mx, Seq("pri"))
      .filter(col("peak") - col("y") === col("max_drawdown"))
      .groupBy(col("pri")).agg(min(col("day")).as("trough_day"))
    tr.join(mx, Seq("pri"))
      .join(dd.select(col("pri"), col("day").as("trough_day"),
        col("y"), col("peak")), Seq("pri", "trough_day"))
      .select(col("pri").as("priority"), col("max_drawdown"),
        col("trough_day"), col("y").as("trough_cents"),
        col("peak").as("peak_cents"))
      .orderBy(col("priority"))
  }

  /** q242 — seasonality detection via exact integer autocorrelation:
    * the hourly event-count series (720 points over the 30-day
    * window) correlated with itself at lags 1–36 hours — the lag-24
    * peak IS the daily cycle, measured rather than assumed (the
    * prerequisite for q225's trend model and any seasonal forecast).
    * Mean-centering rides an integer scaling: c_t = n·x_t − S (no
    * division, exact), so numerator Σc_t·c_{t−l} and denominator
    * Σc_t² are exact integers and r = num/den is ONE float division
    * per lag (the q229 discipline), reported in milli. At
    * petabyte-scale counts the n-scaled grid nears 2⁶³ — the doc'd
    * rescale is to drop counts to kilo-events first; the plan is
    * unchanged.
    *
    * Scale: hourly census (calendar-bounded), one 36× lag explode of
    * the CENSUS (never the raw events), one self-equi-join on the
    * hour index, keyed sums per lag. */
  val q242 = QueryDef(
    "q242_autocorrelation",
    """WITH h AS (
      |  SELECT epoch_us(ts) // 3600000000 AS t,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT)
      |    AS sx
      |  FROM h),
      |c AS (
      |  SELECT t, CAST(m.n * h.x - m.sx AS BIGINT) AS c
      |  FROM h CROSS JOIN m),
      |den AS (SELECT CAST(SUM(c * c) AS BIGINT) AS d2 FROM c),
      |lags AS (SELECT CAST(unnest(range(1, 37)) AS BIGINT) AS lag),
      |pr AS (
      |  SELECT lags.lag, a.c AS ca, b.c AS cb
      |  FROM c a CROSS JOIN lags
      |  JOIN c b ON b.t = a.t - lags.lag),
      |num AS (
      |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(ca * cb) AS BIGINT) AS num
      |  FROM pr GROUP BY 1)
      |SELECT num.lag, num.n_pairs,
      |  CAST(FLOOR(1000.0 * CAST(num.num AS DOUBLE)
      |    / CAST(den.d2 AS DOUBLE)) AS BIGINT) AS r_milli
      |FROM num CROSS JOIN den
      |ORDER BY lag""".stripMargin) { (s, d) =>
    val h = Tables.events(s, d)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("t"))
      .agg(count(lit(1)).as("x"))
    val m = h.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val c = h.crossJoin(broadcast(m))
      .select(col("t"), (col("n") * col("x") - col("sx")).as("c"))
    val den = c.agg(sum(col("c") * col("c")).as("d2"))
    val pr = c.withColumn("lag",
        explode(expr("sequence(1L, 36L)")))
      .select(col("lag"), col("t"), col("c").as("ca"))
      .withColumn("tb", col("t") - col("lag"))
      .join(c.select(col("t").as("tb"), col("c").as("cb")),
        Seq("tb"))
    pr.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ca") * col("cb")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        floor(lit(1000.0) * col("num").cast("double")
          / col("d2").cast("double")).cast("long").as("r_milli"))
      .orderBy(col("lag"))
  }

  /** q243 — clamped inventory projection (the Lindley recursion —
    * the same max(0, s + net) recurrence that gives queue waiting
    * times): per brand, stock flows in at order placement and out at
    * line shipment; the running balance CANNOT go negative, which is
    * exactly what makes this a true recurrence and not a cumsum —
    * max(0, ·) doesn't distribute over prefix sums (q61's rolling
    * windows can't express it; q225's fold can). Integer units
    * throughout, NO division anywhere, so no grid is even needed:
    * Spark replays the fold as one codegen'd aggregate lambda per
    * brand (state: balance, running max, stockout-day count), the
    * oracle as a recursive CTE over the day index — the q225
    * two-mechanisms-one-sequence contract.
    *
    * Scale: daily net-flow census is a keyed agg; the fold carries
    * O(1) state over ≤ corpus-date-range elements per brand (the
    * q225 calendar bound); brands are the series keys. */
  val q243 = QueryDef(
    "q243_inventory_clamp",
    """WITH RECURSIVE flows AS (
      |  SELECT p.p_brand AS brand, CAST(o.o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT))
      |      AS BIGINT) AS net
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2
      |  UNION ALL
      |  SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
      |    CAST(-SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT))
      |      AS BIGINT) AS net
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |daily AS (
      |  SELECT brand, day, CAST(SUM(net) AS BIGINT) AS net
      |  FROM flows GROUP BY 1, 2),
      |obs AS (
      |  SELECT brand, ROW_NUMBER() OVER (PARTITION BY brand
      |    ORDER BY day) AS idx, net
      |  FROM daily),
      |st AS (
      |  SELECT brand, CAST(1 AS BIGINT) AS idx,
      |    CAST(GREATEST(0, net) AS BIGINT) AS s,
      |    CAST(GREATEST(0, net) AS BIGINT) AS mx,
      |    CAST(CASE WHEN GREATEST(0, net) = 0 THEN 1 ELSE 0 END
      |      AS BIGINT) AS zd
      |  FROM obs WHERE idx = 1
      |  UNION ALL
      |  SELECT o.brand, o.idx,
      |    CAST(GREATEST(0, st.s + o.net) AS BIGINT) AS s,
      |    CAST(GREATEST(st.mx, GREATEST(0, st.s + o.net)) AS BIGINT)
      |      AS mx,
      |    CAST(st.zd + CASE WHEN GREATEST(0, st.s + o.net) = 0
      |      THEN 1 ELSE 0 END AS BIGINT) AS zd
      |  FROM st JOIN obs o ON o.brand = st.brand
      |    AND o.idx = st.idx + 1),
      |fin AS (SELECT brand, CAST(MAX(idx) AS BIGINT) AS n FROM st
      |  GROUP BY 1)
      |SELECT st.brand AS brand, fin.n AS n_days, st.s AS final_units,
      |  st.mx AS max_units, st.zd AS stockout_days
      |FROM st JOIN fin ON st.brand = fin.brand AND st.idx = fin.n
      |ORDER BY st.brand""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val pb = Tables.part(s, d).select(col("p_partkey"),
      col("p_brand").as("brand"))
    val inflow = li
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(pb, col("l_partkey") === col("p_partkey"))
      .groupBy(col("brand"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("cast(floor(l_quantity + 0.5) as bigint)"))
        .as("net"))
    val outflow = li
      .join(pb, col("l_partkey") === col("p_partkey"))
      .groupBy(col("brand"), col("l_shipdate").cast("date").as("day"))
      .agg((-sum(expr("cast(floor(l_quantity + 0.5) as bigint)")))
        .as("net"))
    val daily = inflow.unionByName(outflow)
      .groupBy(col("brand"), col("day"))
      .agg(sum(col("net")).as("net"))
    daily.select(col("brand"), struct(col("day"), col("net")).as("rec"))
      .groupBy(col("brand"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"),
        count(lit(1)).as("n_days"))
      .withColumn("st", expr(
        """aggregate(
          |  slice(recs, 2, size(recs) - 1),
          |  named_struct(
          |    's', greatest(0L, recs[0].net),
          |    'mx', greatest(0L, recs[0].net),
          |    'zd', IF(greatest(0L, recs[0].net) = 0L, 1L, 0L)),
          |  (acc, x) -> named_struct(
          |    's', greatest(0L, acc.s + x.net),
          |    'mx', greatest(acc.mx, greatest(0L, acc.s + x.net)),
          |    'zd', acc.zd + IF(greatest(0L, acc.s + x.net) = 0L,
          |      1L, 0L)))""".stripMargin))
      .select(col("brand"), col("n_days"), col("st.s").as("final_units"),
        col("st.mx").as("max_units"), col("st.zd").as("stockout_days"))
      .orderBy(col("brand"))
  }

  /** q245 — coarsened exact matching ATT (Iacus, King & Porro 2012):
    * the causal-inference step beyond q214/q233's randomized tests —
    * when assignment ISN'T randomized, compare treated and control
    * only WITHIN strata that contain both, weighting strata by their
    * treated counts (the ATT estimand). Strata are the q206
    * generalization ladder (nation × balance band); treatment is the
    * q233 hash-parity arm (so the estimate correctly reads ≈ the
    * naive difference here — randomized data is the honest null for
    * a matching estimator); outcome is customer spend. Stratum means
    * ride the milli-cent integer-div grid; the weighted sum is exact
    * integer; one division lands ATT on the grid. The naive
    * (unmatched) difference is emitted alongside — the adjustment a
    * confounded dataset would show is the DIFFERENCE of these two
    * columns.
    *
    * Scale: customer census → stratum census → one fold; all keyed,
    * map-side combinable; matched-strata filtering is a HAVING. */
  val q245 = QueryDef(
    "q245_cem_att",
    s"""WITH cust AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |hv AS (SELECT ck, y, md5(CAST(ck AS VARCHAR)) AS hx FROM cust),
      |vv AS (SELECT ck, y, ${TextQueries.hexU32Sql(1)} % 2 AS tr
      |  FROM hv),
      |s AS (
      |  SELECT c.c_nationkey AS nat,
      |    (CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
      |      // 200000 AS bal,
      |    vv.tr, vv.y
      |  FROM vv JOIN customer c ON vv.ck = c.c_custkey),
      |st AS (
      |  SELECT nat, bal,
      |    CAST(SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nt,
      |    CAST(SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nc,
      |    CAST(SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS BIGINT)
      |      AS syt,
      |    CAST(SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS BIGINT)
      |      AS syc
      |  FROM s GROUP BY 1, 2),
      |m AS (SELECT * FROM st WHERE nt > 0 AND nc > 0),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
      |    CAST(SUM(nt) AS BIGINT) AS n_treated,
      |    CAST(SUM(nc) AS BIGINT) AS n_control,
      |    CAST(SUM(nt * ((1000 * syt) // nt - (1000 * syc) // nc))
      |      AS BIGINT) AS wsum
      |  FROM m),
      |naive AS (
      |  SELECT CAST((1000 * SUM(CASE WHEN tr = 1 THEN y ELSE 0 END))
      |      // SUM(CASE WHEN tr = 1 THEN 1 ELSE 0 END)
      |    - (1000 * SUM(CASE WHEN tr = 0 THEN y ELSE 0 END))
      |      // SUM(CASE WHEN tr = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS naive_milli
      |  FROM s)
      |SELECT agg.n_strata, agg.n_treated, agg.n_control,
      |  CAST(agg.wsum // agg.n_treated AS BIGINT) AS att_milli,
      |  naive.naive_milli
      |FROM agg CROSS JOIN naive""".stripMargin) { (s, d) =>
    val cust = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("y"))
      .withColumn("tr",
        graft.curation.Curation.contentU32(col("ck")) % 2L)
    val sdf = cust
      .join(Tables.customer(s, d), col("ck") === col("c_custkey"))
      .select(col("c_nationkey").as("nat"),
        expr("(cast(floor(c_acctbal * 100 + 0.5) as bigint) + 100000)" +
          " div 200000").as("bal"),
        col("tr"), col("y"))
    val st = sdf.groupBy(col("nat"), col("bal"))
      .agg(sum(when(col("tr") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("tr") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("tr") === 1, col("y")).otherwise(0L)).as("syt"),
        sum(when(col("tr") === 0, col("y")).otherwise(0L)).as("syc"))
    val agg = st.filter(col("nt") > 0 && col("nc") > 0)
      .agg(count(lit(1)).as("n_strata"), sum(col("nt")).as("n_treated"),
        sum(col("nc")).as("n_control"),
        sum(col("nt") * (expr("(1000 * syt) div nt")
          - expr("(1000 * syc) div nc"))).as("wsum"))
    val naive = sdf.agg(
      (expr("(1000 * sum(case when tr = 1 then y else 0 end))" +
        " div sum(case when tr = 1 then 1 else 0 end)")
        - expr("(1000 * sum(case when tr = 0 then y else 0 end))" +
          " div sum(case when tr = 0 then 1 else 0 end)"))
        .as("naive_milli"))
    agg.crossJoin(broadcast(naive))
      .select(col("n_strata"), col("n_treated"), col("n_control"),
        expr("wsum div n_treated").as("att_milli"),
        col("naive_milli"))
  }

  /** q250 — supplier concentration: Herfindahl–Hirschman index per
    * supplier nation (the antitrust/marketplace-health statistic —
    * "is this market a few big players or many small ones"): each
    * supplier's revenue share of its nation's total in exact ppm,
    * HHI = Σ share² div 10⁶ (0..10⁶ scale; >2 500 on the classic
    * 0..10 000 scale = 250 000 here flags "highly concentrated"),
    * plus the equivalent-competitor count 10¹² div HHI — the
    * interpretable inverse. All integer.
    *
    * Scale: supplier revenue census → nation census → one keyed
    * join + keyed fold; all map-side combinable. */
  val q250 = QueryDef(
    "q250_hhi_concentration",
    """WITH sr AS (
      |  SELECT l_suppkey AS sk,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |sn AS (
      |  SELECT s.s_nationkey AS nat, sr.sk, sr.rev
      |  FROM sr JOIN supplier s ON sr.sk = s.s_suppkey),
      |nt AS (SELECT nat, CAST(SUM(rev) AS BIGINT) AS tot FROM sn
      |  GROUP BY 1),
      |sh AS (
      |  SELECT sn.nat, (1000000 * sn.rev) // nt.tot AS share_ppm
      |  FROM sn JOIN nt ON sn.nat = nt.nat),
      |h AS (
      |  SELECT nat, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |    CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT)
      |      AS hhi_ppm
      |  FROM sh GROUP BY 1)
      |SELECT nat AS nation, n_suppliers, hhi_ppm,
      |  CAST(CASE WHEN hhi_ppm > 0 THEN 1000000 // hhi_ppm
      |    ELSE 0 END AS BIGINT) AS effective_competitors,
      |  CAST(CASE WHEN hhi_ppm > 250000 THEN 1 ELSE 0 END AS BIGINT)
      |    AS concentrated
      |FROM h ORDER BY nation""".stripMargin) { (s, d) =>
    val sr = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey").as("sk"))
      .agg(sum(expr(
        "cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
        .as("rev"))
    val sn = sr.join(Tables.supplier(s, d),
        col("sk") === col("s_suppkey"))
      .select(col("s_nationkey").as("nat"), col("sk"), col("rev"))
    val nt = sn.groupBy(col("nat")).agg(sum(col("rev")).as("tot"))
    val sh = sn.join(nt, Seq("nat"))
      .select(col("nat"), expr("(1000000 * rev) div tot")
        .as("share_ppm"))
    sh.groupBy(col("nat"))
      .agg(count(lit(1)).as("n_suppliers"),
        expr("sum(share_ppm * share_ppm) div 1000000").as("hhi_ppm"))
      .select(col("nat").as("nation"), col("n_suppliers"),
        col("hhi_ppm"),
        when(col("hhi_ppm") > 0, expr("1000000 div hhi_ppm"))
          .otherwise(0L).as("effective_competitors"),
        (col("hhi_ppm") > 250000L).cast("long").as("concentrated"))
      .orderBy(col("nation"))
  }

  /** q251 — event-time sequencing QA audit: the data-quality checks
    * that guard every event-time operator in this engine (q14's
    * sessions, q108's folds, the streaming watermarks): per user,
    * out-of-order arrivals (event_id order disagreeing with ts
    * order), exact-duplicate (ts, event_id) rows, and
    * same-timestamp ties — each a lag-window comparison over the
    * user's stream, reported as corpus totals plus the worst-5
    * offending users (bounded output, deterministic ties). An
    * ingestion pipeline alerts on deltas of these counters between
    * batches.
    *
    * Scale: user-keyed windows (never partition-less), one keyed
    * census, a global top-5 TakeOrdered. */
  val q251 = QueryDef(
    "q251_sequencing_audit",
    """WITH e AS (
      |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid
      |  FROM events WHERE user_id IS NOT NULL),
      |lg AS (
      |  SELECT u, t, eid,
      |    LAG(t) OVER (PARTITION BY u ORDER BY eid) AS pt,
      |    LAG(t) OVER (PARTITION BY u ORDER BY t, eid) AS ptt,
      |    LAG(eid) OVER (PARTITION BY u ORDER BY t, eid) AS peid
      |  FROM e),
      |f AS (
      |  SELECT u,
      |    CAST(SUM(CASE WHEN pt IS NOT NULL AND t < pt
      |      THEN 1 ELSE 0 END) AS BIGINT) AS ooo,
      |    CAST(SUM(CASE WHEN ptt IS NOT NULL AND t = ptt AND
      |      eid = peid THEN 1 ELSE 0 END) AS BIGINT) AS dups,
      |    CAST(SUM(CASE WHEN ptt IS NOT NULL AND t = ptt AND
      |      eid <> peid THEN 1 ELSE 0 END) AS BIGINT) AS ties,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lg GROUP BY 1)
      |SELECT u AS user_id, n AS n_events, ooo AS out_of_order,
      |  dups AS duplicates, ties AS ts_ties
      |FROM f
      |ORDER BY ooo DESC, u LIMIT 5""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("user_id").as("u"), unix_micros(col("ts")).as("t"),
        col("event_id").as("eid"))
    val wEid = Window.partitionBy(col("u")).orderBy(col("eid"))
    val wTs = Window.partitionBy(col("u")).orderBy(col("t"),
      col("eid"))
    val lg = e.withColumn("pt", lag(col("t"), 1).over(wEid))
      .withColumn("ptt", lag(col("t"), 1).over(wTs))
      .withColumn("peid", lag(col("eid"), 1).over(wTs))
    lg.groupBy(col("u"))
      .agg(sum(when(col("pt").isNotNull && col("t") < col("pt"), 1L)
          .otherwise(0L)).as("ooo"),
        sum(when(col("ptt").isNotNull && col("t") === col("ptt") &&
          col("eid") === col("peid"), 1L).otherwise(0L)).as("dups"),
        sum(when(col("ptt").isNotNull && col("t") === col("ptt") &&
          col("eid") =!= col("peid"), 1L).otherwise(0L)).as("ties"),
        count(lit(1)).as("n"))
      .select(col("u").as("user_id"), col("n").as("n_events"),
        col("ooo").as("out_of_order"), col("dups").as("duplicates"),
        col("ties").as("ts_ties"))
      .orderBy(col("out_of_order").desc, col("user_id"))
      .limit(5)
  }

  /** q252 — classical multiplicative seasonal decomposition
    * (the ratio-to-moving-average method behind Census X-11's core):
    * daily total revenue decomposed into trend (7-day CENTERED
    * moving average — full windows only, so the trend is phase-
    * neutral) and a day-of-week seasonal index = mean ratio of
    * actual to trend per weekday. Ratios land on the integer ppm
    * grid (one div per row), the per-weekday mean on the same grid
    * — all exact (the q229 census-first discipline); an index of
    * 10⁶ means "an average day". DOW numbering is pinned to ISO
    * Monday=1 on both engines.
    *
    * Scale: daily census first (calendar-bounded); the centered MA
    * is ONE window over that census; the index census is a 7-row
    * keyed agg. */
  val q252 = QueryDef(
    "q252_seasonal_index",
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |ma AS (
      |  SELECT day, y,
      |    CAST(SUM(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS BIGINT) AS s7,
      |    CAST(COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS BIGINT) AS c7
      |  FROM daily),
      |r AS (
      |  SELECT isodow(day) AS dow,
      |    (1000000 * y) // (s7 // 7) AS ratio_ppm
      |  FROM ma WHERE c7 = 7 AND s7 >= 7)
      |SELECT CAST(dow AS BIGINT) AS dow,
      |  CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS index_ppm
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("y"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val ma = daily
      .withColumn("s7", sum(col("y")).over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
    ma.filter(col("c7") === 7 && col("s7") >= 7)
      .select(expr("weekday(day) + 1").as("dow"),
        expr("(1000000 * y) div (s7 div 7)").as("ratio_ppm"))
      .groupBy(col("dow").cast("long").as("dow"))
      .agg(count(lit(1)).as("n_days"),
        expr("sum(ratio_ppm) div count(1)").as("index_ppm"))
      .orderBy(col("dow"))
  }

  /** q253 — ABC / Pareto inventory classification (the 80/20 rule
    * operationalized): parts ranked by revenue, classified A/B/C at
    * 80%/95% of cumulative share — the stocking-policy census every
    * inventory system starts from, and the q250 concentration story
    * at item grain. The cumulative share is the DISTRIBUTED
    * [[graft.functions.Ranks.prefixSum]] over (revenue desc,
    * partkey) — never a partition-less window; class cuts are exact
    * integer comparisons cum·10⁶ vs threshold·total (no division
    * at all until the report).
    *
    * Scale: part revenue census → the Ranks bucket pipeline → keyed
    * class census. */
  val q253 = QueryDef(
    "q253_abc_classification",
    """WITH pr AS (
      |  SELECT l_partkey AS pk,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM pr),
      |c AS (
      |  SELECT pk, rev,
      |    CAST(SUM(rev) OVER (ORDER BY rev DESC, pk) AS BIGINT)
      |      AS cum
      |  FROM pr),
      |cls AS (
      |  SELECT CASE WHEN 1000000 * c.cum <= 800000 * t.tot THEN 'A'
      |    WHEN 1000000 * c.cum <= 950000 * t.tot THEN 'B'
      |    ELSE 'C' END AS cls, c.rev
      |  FROM c CROSS JOIN t)
      |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(rev) AS BIGINT) AS revenue_cents
      |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val pr = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr(
        "cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
        .as("rev"))
    val t = pr.agg(sum(col("rev")).as("tot"))
    val c = graft.functions.Ranks.prefixSum(pr,
      col("rev") * lit(-1L), col("pk"), col("rev"), "cum")
    c.crossJoin(broadcast(t))
      .select(when(lit(1000000L) * col("cum") <=
          lit(800000L) * col("tot"), "A")
        .when(lit(1000000L) * col("cum") <=
          lit(950000L) * col("tot"), "B")
        .otherwise("C").as("cls"), col("rev"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).as("revenue_cents"))
      .orderBy(col("cls"))
  }

  /** q254 — fulfillment-latency SLA percentiles: order-to-ship delay
    * in days, p50/p90/p99 per priority as RANK-EXACT order
    * statistics (position ⌈q·n⌉ via the census-cumsum — the q213
    * conformal machinery applied to ops latency; never an
    * interpolated approximation, so both engines agree without a
    * tolerance), plus the SLA-breach share beyond 100 days in exact
    * ppm.
    *
    * Scale: (priority, delay) census first — the window runs over
    * the DELAY DOMAIN (≤ date-range days per priority), not rows;
    * totals broadcast back (the q229 ladder discipline). */
  val q254 = QueryDef(
    "q254_latency_percentiles",
    """WITH dl AS (
      |  SELECT o.o_orderpriority AS pri,
      |    CAST(date_diff('day', o.o_orderdate, l.l_shipdate)
      |      AS BIGINT) AS delay
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |cnt AS (
      |  SELECT pri, delay, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM dl GROUP BY 1, 2),
      |tot AS (SELECT pri, CAST(SUM(c) AS BIGINT) AS n FROM cnt
      |  GROUP BY 1),
      |cum AS (
      |  SELECT pri, delay,
      |    CAST(SUM(c) OVER (PARTITION BY pri ORDER BY delay)
      |      AS BIGINT) AS cc
      |  FROM cnt),
      |pct AS (
      |  SELECT t.pri, t.n,
      |    MIN(CASE WHEN 100 * cum.cc >= 50 * t.n THEN cum.delay END)
      |      AS p50,
      |    MIN(CASE WHEN 100 * cum.cc >= 90 * t.n THEN cum.delay END)
      |      AS p90,
      |    MIN(CASE WHEN 100 * cum.cc >= 99 * t.n THEN cum.delay END)
      |      AS p99
      |  FROM cum JOIN tot t ON cum.pri = t.pri GROUP BY 1, 2),
      |br AS (
      |  SELECT pri, CAST(SUM(CASE WHEN delay > 100 THEN c ELSE 0 END)
      |    AS BIGINT) AS n_breach
      |  FROM cnt GROUP BY 1)
      |SELECT pct.pri AS priority, pct.n AS n_lines,
      |  CAST(pct.p50 AS BIGINT) AS p50_days,
      |  CAST(pct.p90 AS BIGINT) AS p90_days,
      |  CAST(pct.p99 AS BIGINT) AS p99_days,
      |  (1000000 * br.n_breach) // pct.n AS breach_ppm
      |FROM pct JOIN br ON pct.pri = br.pri
      |ORDER BY priority""".stripMargin) { (s, d) =>
    val dl = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("pri"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("delay"))
    val cnt = dl.groupBy(col("pri"), col("delay"))
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("pri")).agg(sum(col("c")).as("n"))
    val wCum = Window.partitionBy(col("pri")).orderBy(col("delay"))
    val cum = cnt.withColumn("cc", sum(col("c")).over(wCum))
    val pct = cum.join(broadcast(tot), Seq("pri"))
      .groupBy(col("pri"), col("n"))
      .agg(min(when(lit(100L) * col("cc") >= lit(50L) * col("n"),
          col("delay"))).as("p50_days"),
        min(when(lit(100L) * col("cc") >= lit(90L) * col("n"),
          col("delay"))).as("p90_days"),
        min(when(lit(100L) * col("cc") >= lit(99L) * col("n"),
          col("delay"))).as("p99_days"))
    val br = cnt.groupBy(col("pri"))
      .agg(sum(when(col("delay") > 100L, col("c")).otherwise(0L))
        .as("n_breach"))
    pct.join(br, Seq("pri"))
      .select(col("pri").as("priority"), col("n").as("n_lines"),
        col("p50_days"), col("p90_days"), col("p99_days"),
        expr("(1000000 * n_breach) div n").as("breach_ppm"))
      .orderBy(col("priority"))
  }

  /** q255 — new-vs-returning weekly revenue decomposition (the
    * standard growth-accounting split: is revenue growth acquisition
    * or retention?): a customer's FIRST-ever order week marks them
    * new for that week, returning after — the first-order census is
    * one keyed min (the q222 cohort anchor), the weekly split a
    * conditional keyed agg, shares in exact ppm. Weeks are pinned
    * to epoch-day // 7 (no engine-specific week-of-year semantics
    * to disagree over).
    *
    * Scale: two keyed censuses, one broadcastable first-order
    * frame; calendar-bounded output. */
  val q255 = QueryDef(
    "q255_new_vs_returning",
    """WITH fo AS (
      |  SELECT o_custkey AS ck, MIN(o_orderdate) AS fd
      |  FROM orders GROUP BY 1),
      |o AS (
      |  SELECT o.o_custkey AS ck,
      |    date_diff('day', DATE '1995-01-01',
      |      CAST(o.o_orderdate AS DATE)) // 7 AS wk,
      |    CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CASE WHEN date_diff('day', DATE '1995-01-01',
      |        CAST(o.o_orderdate AS DATE)) // 7
      |      = date_diff('day', DATE '1995-01-01',
      |        CAST(fo.fd AS DATE)) // 7
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM orders o JOIN fo ON o.o_custkey = fo.ck),
      |w AS (
      |  SELECT wk, CAST(SUM(is_new) AS BIGINT) AS new_orders,
      |    CAST(COUNT(*) - SUM(is_new) AS BIGINT) AS ret_orders,
      |    CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
      |      AS BIGINT) AS new_cents,
      |    CAST(SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END)
      |      AS BIGINT) AS ret_cents
      |  FROM o GROUP BY 1)
      |SELECT CAST(wk AS BIGINT) AS week, new_orders, ret_orders,
      |  new_cents, ret_cents,
      |  (1000000 * new_cents) // (new_cents + ret_cents)
      |    AS new_share_ppm
      |FROM w WHERE new_cents + ret_cents > 0
      |ORDER BY week LIMIT 30""".stripMargin) { (s, d) =>
    val fo = Tables.orders(s, d).groupBy(col("o_custkey").as("ck"))
      .agg(min(col("o_orderdate")).as("fd"))
    def wkOf(e: String) =
      s"cast(datediff(cast($e as date), date'1995-01-01') as bigint)" +
        " div 7"
    val o = Tables.orders(s, d)
      .join(fo, col("o_custkey") === col("ck"))
      .select(expr(wkOf("o_orderdate")).as("wk"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
          .as("cents"),
        (expr(wkOf("o_orderdate")) === expr(wkOf("fd"))).cast("long")
          .as("is_new"))
    o.groupBy(col("wk"))
      .agg(sum(col("is_new")).as("new_orders"),
        (count(lit(1)) - sum(col("is_new"))).as("ret_orders"),
        sum(when(col("is_new") === 1, col("cents")).otherwise(0L))
          .as("new_cents"),
        sum(when(col("is_new") === 0, col("cents")).otherwise(0L))
          .as("ret_cents"))
      .filter(col("new_cents") + col("ret_cents") > 0)
      .select(col("wk").as("week"), col("new_orders"),
        col("ret_orders"), col("new_cents"), col("ret_cents"),
        expr("(1000000 * new_cents) div (new_cents + ret_cents)")
          .as("new_share_ppm"))
      .orderBy(col("week"))
      .limit(30)
  }

  /** q256 — EWMA control chart (Roberts 1959) over each priority's
    * daily revenue: the small-shift drift detector next to q215's
    * CUSUM (CUSUM localizes ONE changepoint; the EWMA chart flags
    * every out-of-control day against in-control limits). λ = 1/5
    * makes the chart EXACTLY integer twice over: the recurrence
    * z_t = (1000·y_t + 4·z_{t−1})/5 is a non-negative floor division
    * (revenue ≥ 0, so Spark's truncating `div` and DuckDB's flooring
    * `//` agree with no sign offset), and the asymptotic 3σ limits
    * μ ± 3σ·√(λ/(2−λ)) collapse to μ ± σ because λ/(2−λ) = 1/9 —
    * the √ cancels, so the breach test is one integer comparison
    * (z_δ − μ_δ)² > Var_δ on the dollars grid; the one-row-per-series
    * moment solve n·Σy² − (Σy)² wraps int64 even on dollars at sf0.1
    * (measured 6.3·10¹⁹ — caught by the round-11 sf0.1 gate), so the
    * variance rides the q312 wide-integer hatch: DECIMAL(38) on the
    * Spark side, HUGEINT in the oracle — wide arithmetic on the
    * |priorities|-row frame only; every corpus-sized sum stays
    * int64. Chart seeded at the in-control mean
    * (z₀ = μ, textbook), so every day is a monitored step. The fold
    * carries (z, breaches, first-breach) — a recurrence no window
    * frame expresses (the q108/q225 argument); the oracle replays the
    * same integer sequence as a recursive CTE.
    *
    * Scale: daily census = map-side-combinable keyed agg; per-series
    * fold state is O(1) over ≤ date-range elements — 100 TB adds
    * weight per day, not days. Moments for μ/Var ride the same
    * census pass. */
  val q256 = QueryDef(
    "q256_ewma_control",
    """WITH RECURSIVE daily AS (
      |  SELECT o_orderpriority AS pri, o_orderdate AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |obs AS (
      |  SELECT pri, ROW_NUMBER() OVER (PARTITION BY pri ORDER BY day)
      |    AS idx, y, y // 100 AS yd
      |  FROM daily),
      |mom AS (
      |  SELECT pri, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS s,
      |    CAST(SUM(yd) AS BIGINT) AS sd,
      |    CAST(SUM(yd * yd) AS BIGINT) AS qd
      |  FROM obs GROUP BY 1),
      |lim AS (
      |  SELECT pri, n, s, (1000 * s) // n AS mu_milli,
      |    sd // n AS mu_d,
      |    CAST((CAST(n AS HUGEINT) * qd - CAST(sd AS HUGEINT) * sd)
      |      // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_d
      |  FROM mom WHERE n >= 2),
      |st AS (
      |  SELECT l.pri, CAST(0 AS BIGINT) AS idx, l.mu_milli AS z,
      |    CAST(0 AS BIGINT) AS br, CAST(0 AS BIGINT) AS fb
      |  FROM lim l
      |  UNION ALL
      |  SELECT st.pri, o.idx,
      |    CAST((1000 * o.y + 4 * st.z) // 5 AS BIGINT) AS z,
      |    CAST(st.br + CASE WHEN
      |      (((1000 * o.y + 4 * st.z) // 5) // 100000 - l.mu_d)
      |      * (((1000 * o.y + 4 * st.z) // 5) // 100000 - l.mu_d)
      |      > l.var_d THEN 1 ELSE 0 END AS BIGINT) AS br,
      |    CAST(CASE WHEN st.fb = 0 AND
      |      (((1000 * o.y + 4 * st.z) // 5) // 100000 - l.mu_d)
      |      * (((1000 * o.y + 4 * st.z) // 5) // 100000 - l.mu_d)
      |      > l.var_d THEN o.idx ELSE st.fb END AS BIGINT) AS fb
      |  FROM st JOIN obs o ON o.pri = st.pri AND o.idx = st.idx + 1
      |    JOIN lim l ON l.pri = st.pri)
      |SELECT l.pri AS priority, l.n AS n_days,
      |  CAST(l.s // l.n AS BIGINT) AS mu_cents,
      |  CAST(l.var_d AS BIGINT) AS var_dollars,
      |  CAST(st.z // 1000 AS BIGINT) AS ewma_cents,
      |  st.br AS n_breach, st.fb AS first_breach_idx,
      |  CAST((1000000 * st.br) // l.n AS BIGINT) AS breach_ppm
      |FROM st JOIN lim l ON st.pri = l.pri AND st.idx = l.n
      |ORDER BY priority""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"),
        col("o_orderdate").as("day"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("y"))
    daily
      .select(col("pri"), struct(col("day"), col("y")).as("rec"),
        col("y"), expr("y div 100").as("yd"))
      .groupBy(col("pri"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"),
        count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(col("yd")).as("sd"),
        sum(col("yd") * col("yd")).as("qd"))
      .filter(col("n") >= 2)
      .withColumn("mu_milli", expr("(1000L * s) div n"))
      .withColumn("mu_d", expr("sd div n"))
      .withColumn("var_d", expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * qd" +
          " - CAST(sd AS DECIMAL(38,0)) * sd)" +
          " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"))
      .withColumn("st", expr(
        """aggregate(
          |  recs,
          |  named_struct('z', mu_milli, 'br', 0L, 'fb', 0L, 't', 0L),
          |  (acc, x) -> named_struct(
          |    'z', (1000L * x.y + 4L * acc.z) div 5,
          |    'br', acc.br + if(
          |      (((1000L * x.y + 4L * acc.z) div 5) div 100000L - mu_d)
          |      * (((1000L * x.y + 4L * acc.z) div 5) div 100000L - mu_d)
          |      > var_d, 1L, 0L),
          |    'fb', if(acc.fb = 0L AND
          |      (((1000L * x.y + 4L * acc.z) div 5) div 100000L - mu_d)
          |      * (((1000L * x.y + 4L * acc.z) div 5) div 100000L - mu_d)
          |      > var_d, acc.t + 1L, acc.fb),
          |    't', acc.t + 1L))
          |""".stripMargin))
      .select(col("pri").as("priority"), col("n").as("n_days"),
        expr("s div n").as("mu_cents"), col("var_d").as("var_dollars"),
        expr("st.z div 1000").as("ewma_cents"),
        col("st.br").as("n_breach"),
        col("st.fb").as("first_breach_idx"),
        expr("(1000000L * st.br) div n").as("breach_ppm"))
      .orderBy(col("priority"))
  }

  /** q259 — Holt–Winters-style seasonal forecast of global daily
    * revenue, by decomposition: additive day-of-week components from
    * the centered 7-day moving average (the q252 decomposition in
    * ADDITIVE form — detrended residual means per dow), Holt
    * level+trend fold (the q225 recurrence, α=1/5, β=1/10) over the
    * DESEASONALIZED series, then a 7-day forecast that re-adds each
    * target date's seasonal component — the classic HW additive
    * triple in its decomposition form, where every stage stays on the
    * integer milli grid. Detrended residuals and trend go NEGATIVE,
    * so every division is the q225 sign-safe offset floor-division
    * ((x + n·10¹⁵)//n − 10¹⁵ — truncating Spark `div` and flooring
    * DuckDB `//` agree on provably-positive numerators). In-sample
    * one-step MAE of the seasonalized fit reported alongside.
    *
    * Scale: daily census (map-side combinable) → calendar-bounded
    * windows and a single O(1)-state fold over ≤ date-range elements;
    * the dow component table is a 7-row broadcast. 100 TB adds
    * weight per day, not days. */
  val q259 = QueryDef(
    "q259_holt_winters",
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |ma AS (
      |  SELECT day, y,
      |    CAST(SUM(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS BIGINT) AS s7,
      |    CAST(COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS BIGINT) AS c7
      |  FROM daily),
      |sd AS (
      |  SELECT isodow(day) - 1 AS dw,
      |    CAST((SUM(1000 * y - 1000 * (s7 // 7))
      |      + COUNT(*) * 1000000000000000) // COUNT(*)
      |      - 1000000000000000 AS BIGINT) AS s
      |  FROM ma WHERE c7 = 7 GROUP BY 1),
      |obs AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY d.day) AS idx, d.day,
      |    CAST(1000 * d.y - sd.s AS BIGINT) AS yp, sd.s
      |  FROM daily d JOIN sd ON isodow(d.day) - 1 = sd.dw),
      |n AS (SELECT CAST(MAX(idx) AS BIGINT) AS n,
      |  MAX(day) AS last_day FROM obs),
      |st AS (
      |  SELECT CAST(1 AS BIGINT) AS idx, yp AS l,
      |    CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
      |  FROM obs WHERE idx = 1
      |  UNION ALL
      |  SELECT o.idx,
      |    CAST((o.yp + 4 * (st.l + st.b) + 5000000000000000) // 5
      |      - 1000000000000000 AS BIGINT) AS l,
      |    CAST(((o.yp + 4 * (st.l + st.b) + 5000000000000000) // 5
      |        - 1000000000000000 - st.l + 9 * st.b
      |        + 10000000000000000) // 10 - 1000000000000000 AS BIGINT)
      |      AS b,
      |    CAST(st.sae + ABS(o.yp - (st.l + st.b)) AS BIGINT) AS sae
      |  FROM st JOIN obs o ON o.idx = st.idx + 1),
      |fin AS (
      |  SELECT st.l, st.b, st.sae, n.n, n.last_day
      |  FROM st JOIN n ON st.idx = n.n),
      |h AS (SELECT UNNEST(generate_series(1, 7)) AS h)
      |SELECT CAST(h.h AS BIGINT) AS h,
      |  CAST(isodow(fin.last_day + CAST(h.h AS INTEGER)) - 1
      |    AS BIGINT) AS dow,
      |  sd.s AS seasonal_milli,
      |  CAST((fin.l + h.h * fin.b + sd.s + 1000000000000000000) // 1000
      |    - 1000000000000000 AS BIGINT) AS forecast_cents,
      |  CAST(fin.sae // (fin.n - 1) AS BIGINT) AS mae_milli
      |FROM h CROSS JOIN fin
      |JOIN sd ON sd.dw = isodow(fin.last_day
      |  + CAST(h.h AS INTEGER)) - 1
      |WHERE fin.n >= 14
      |ORDER BY h""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("y"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val ma = daily
      .withColumn("s7", sum(col("y")).over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
    val sd = ma.filter(col("c7") === 7)
      .groupBy(expr("weekday(day)").as("dw"))
      .agg(expr(
        """(sum(1000L * y - 1000L * (s7 div 7))
          | + count(1) * 1000000000000000L) div count(1)
          | - 1000000000000000L""".stripMargin).as("s"))
    val obs = daily.join(broadcast(sd),
        expr("weekday(day)") === col("dw"))
      .select(col("day"),
        (lit(1000L) * col("y") - col("s")).as("yp"))
    val folded = obs
      .select(struct(col("day"), col("yp")).as("rec"), col("day"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"),
        count(lit(1)).as("n"), max(col("day")).as("last_day"))
      .filter(col("n") >= 14)
      .withColumn("st", expr(
        """aggregate(
          |  slice(recs, 2, size(recs) - 1),
          |  named_struct('l', recs[0].yp, 'b', 0L, 'sae', 0L),
          |  (acc, x) -> named_struct(
          |    'l', (x.yp + 4L * (acc.l + acc.b)
          |          + 5000000000000000L) div 5 - 1000000000000000L,
          |    'b', ((x.yp + 4L * (acc.l + acc.b)
          |           + 5000000000000000L) div 5 - 1000000000000000L
          |          - acc.l + 9L * acc.b + 10000000000000000L) div 10
          |         - 1000000000000000L,
          |    'sae', acc.sae + abs(x.yp - (acc.l + acc.b))))
          |""".stripMargin))
    folded
      .select(explode(expr("sequence(1L, 7L)")).as("h"),
        col("st.l").as("l"), col("st.b").as("b"),
        col("st.sae").as("sae"), col("n"), col("last_day"))
      .withColumn("dow",
        expr("cast(weekday(date_add(last_day, cast(h as int))) as bigint)"))
      .join(broadcast(sd), col("dow") === col("dw"))
      .select(col("h"),
        col("dow"), col("s").as("seasonal_milli"),
        expr("""(l + h * b + s + 1000000000000000000L) div 1000
          | - 1000000000000000L""".stripMargin).as("forecast_cents"),
        expr("sae div (n - 1)").as("mae_milli"))
      .orderBy(col("h"))
  }

  /** q260 — sequential-pattern census (GSP/PrefixSpan semantics,
    * Srikant & Agrawal 1996) over per-user event streams: which
    * ORDERED behaviors actually recur — "error then purchase"? — with
    * support (distinct users containing the subsequence) and lift
    * against independence. The pair stage needs NO quadratic
    * within-user join: user u supports a→b iff FIRST(a) < LAST(b) in
    * u's stream (a subsequence exists iff the earliest a precedes the
    * latest b — works for a=b too, where it means two distinct
    * events), so support is a join of the per-(user,type) first/last
    * census with itself — ≤|types|² combos per user. Triples a→b→c
    * extend by ONE existence probe: some b-event strictly inside
    * (first(a), last(c)) — a semi-join of the bounded pair frame
    * against the type-b events. Lift is exact ppm: pair
    * 10⁶·N·s_ab/(s_a·s_b), triple 10⁶·N·s_abc/(s_ab·s_c).
    *
    * Scale: the census is one keyed agg (map-side combinable); the
    * pair frame is |users|·|types|² rows max — alphabet-bounded, not
    * data-bounded; the triple probe is an equi-join on user_id with a
    * range predicate, never all-pairs. 100 TB grows the census
    * weights, not the pattern space. */
  val q260 = QueryDef(
    "q260_sequential_patterns",
    """WITH fl AS (
      |  SELECT user_id AS u, event_type AS t,
      |    MIN(ts) AS f, MAX(ts) AS l
      |  FROM events GROUP BY 1, 2),
      |n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
      |  FROM events),
      |s1 AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS s FROM fl
      |  GROUP BY 1),
      |p2 AS (
      |  SELECT a.u, a.t AS ta, b.t AS tb, a.f AS fa, b.l AS lb
      |  FROM fl a JOIN fl b ON a.u = b.u
      |  WHERE a.f < b.l),
      |s2 AS (
      |  SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS s
      |  FROM p2 GROUP BY 1, 2),
      |s3 AS (
      |  SELECT p2.ta, m.t AS tm, p2.tb,
      |    CAST(COUNT(DISTINCT p2.u) AS BIGINT) AS s
      |  FROM p2 JOIN (SELECT DISTINCT user_id AS u, event_type AS t,
      |      ts FROM events) m
      |    ON p2.u = m.u AND m.ts > p2.fa AND m.ts < p2.lb
      |  GROUP BY 1, 2, 3),
      |pairs AS (
      |  SELECT 2 AS lvl, s2.ta || '>' || s2.tb AS pattern, s2.s,
      |    (1000000 * n.n * s2.s) // (sa.s * sb.s) AS lift_ppm
      |  FROM s2 JOIN s1 sa ON s2.ta = sa.t JOIN s1 sb ON s2.tb = sb.t
      |  CROSS JOIN n),
      |triples AS (
      |  SELECT 3 AS lvl,
      |    s3.ta || '>' || s3.tm || '>' || s3.tb AS pattern, s3.s,
      |    (1000000 * n.n * s3.s) // (s2.s * s1.s) AS lift_ppm
      |  FROM s3 JOIN s2 ON s3.ta = s2.ta AND s3.tm = s2.tb
      |  JOIN s1 ON s3.tb = s1.t CROSS JOIN n)
      |SELECT CAST(lvl AS BIGINT) AS lvl, pattern,
      |  CAST(s AS BIGINT) AS support_users,
      |  CAST(lift_ppm AS BIGINT) AS lift_ppm
      |FROM (SELECT * FROM pairs UNION ALL SELECT * FROM triples)
      |ORDER BY lvl, support_users DESC, pattern""".stripMargin) {
    (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id").as("u"), col("event_type").as("t"),
        col("ts"))
    val fl = ev.groupBy(col("u"), col("t"))
      .agg(min(col("ts")).as("f"), max(col("ts")).as("l"))
    val nUsers = ev.agg(countDistinct(col("u")).as("n"))
    val s1 = fl.groupBy(col("t")).agg(count(lit(1)).as("s"))
    val p2 = fl.as("a").join(fl.as("b"), col("a.u") === col("b.u"))
      .filter(col("a.f") < col("b.l"))
      .select(col("a.u").as("u"), col("a.t").as("ta"),
        col("b.t").as("tb"), col("a.f").as("fa"), col("b.l").as("lb"))
    val s2 = p2.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("s"))
    val mids = ev.select(col("u"), col("t").as("tm"), col("ts"))
      .distinct()
    val s3 = p2.join(mids,
        p2("u") === mids("u") && col("ts") > col("fa") &&
          col("ts") < col("lb"))
      .groupBy(col("ta"), col("tm"), col("tb"))
      .agg(countDistinct(p2("u")).as("s"))
    val pairs = s2
      .join(broadcast(s1.select(col("t").as("ta"), col("s").as("sa"))),
        Seq("ta"))
      .join(broadcast(s1.select(col("t").as("tb"), col("s").as("sb"))),
        Seq("tb"))
      .crossJoin(broadcast(nUsers))
      .select(lit(2L).as("lvl"),
        concat(col("ta"), lit(">"), col("tb")).as("pattern"),
        col("s").as("support_users"),
        expr("(1000000L * n * s) div (sa * sb)").as("lift_ppm"))
    val triples = s3
      .join(s2.select(col("ta"), col("tb").as("tm"),
        col("s").as("sab")), Seq("ta", "tm"))
      .join(broadcast(s1.select(col("t").as("tb"), col("s").as("sc"))),
        Seq("tb"))
      .crossJoin(broadcast(nUsers))
      .select(lit(3L).as("lvl"),
        concat(col("ta"), lit(">"), col("tm"), lit(">"), col("tb"))
          .as("pattern"),
        col("s").as("support_users"),
        expr("(1000000L * n * s) div (sab * sc)").as("lift_ppm"))
    pairs.unionByName(triples)
      .orderBy(col("lvl"), col("support_users").desc, col("pattern"))
  }

  /** q261 — difference-in-differences estimator (Card & Krueger
    * form): the panel-causal workhorse next to q245's CEM matching —
    * treated group = AUTOMOBILE/BUILDING-segment customers, policy
    * date 1997-01-01, outcome = order value. DiD = (T,post − T,pre) −
    * (C,post − C,pre) over milli-cent snapped cell means (four
    * map-side-combinable cell censuses; the snap makes the estimator
    * one exact integer expression), with the z-statistic from pooled
    * per-cell variances on the DOLLARS grid in SNAPPED form
    * Q//n − (S//n)² (even dollars² overflows the n·Q cross-product
    * at sf0.1 cell sizes — the q256 grid-coarsening discipline taken
    * one step further: divide first, multiply never); the
    * single float sqrt is the last operation, mirrored verbatim in
    * the oracle (the q246 contract). On randomized TPC-H data the
    * truth is NO effect — DiD ≈ 0 within noise is the honest null
    * that proves the estimator doesn't invent effects, exactly the
    * q245 naive-vs-ATT argument.
    *
    * Scale: one scan, one 4-cell keyed agg. Nothing grows with data
    * but the cell weights. */
  val q261 = QueryDef(
    "q261_diff_in_diff",
    """WITH o AS (
      |  SELECT CASE WHEN c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      |      THEN 1 ELSE 0 END AS treat,
      |    CASE WHEN o.o_orderdate >= TIMESTAMP '1997-01-01'
      |      THEN 1 ELSE 0 END AS post,
      |    CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |cells AS (
      |  SELECT treat, post, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS s,
      |    CAST(SUM((cents // 100) * (cents // 100)) AS BIGINT) AS qd,
      |    CAST(SUM(cents // 100) AS BIGINT) AS sd
      |  FROM o GROUP BY 1, 2),
      |m AS (
      |  SELECT treat, post, n, (1000 * s) // n AS mean_milli,
      |    CAST(qd // n - (sd // n) * (sd // n) AS BIGINT) AS var_d
      |  FROM cells),
      |w AS (
      |  SELECT
      |    MAX(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n_tp,
      |    MAX(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_t0,
      |    MAX(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n_cp,
      |    MAX(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_c0,
      |    MAX(CASE WHEN treat = 1 AND post = 1 THEN mean_milli END)
      |      AS m_tp,
      |    MAX(CASE WHEN treat = 1 AND post = 0 THEN mean_milli END)
      |      AS m_t0,
      |    MAX(CASE WHEN treat = 0 AND post = 1 THEN mean_milli END)
      |      AS m_cp,
      |    MAX(CASE WHEN treat = 0 AND post = 0 THEN mean_milli END)
      |      AS m_c0,
      |    MAX(CASE WHEN treat = 1 AND post = 1 THEN var_d END) AS v_tp,
      |    MAX(CASE WHEN treat = 1 AND post = 0 THEN var_d END) AS v_t0,
      |    MAX(CASE WHEN treat = 0 AND post = 1 THEN var_d END) AS v_cp,
      |    MAX(CASE WHEN treat = 0 AND post = 0 THEN var_d END) AS v_c0
      |  FROM m)
      |SELECT CAST(n_tp + n_t0 AS BIGINT) AS n_treated,
      |  CAST(n_cp + n_c0 AS BIGINT) AS n_control,
      |  CAST(m_tp - m_t0 AS BIGINT) AS delta_treat_milli,
      |  CAST(m_cp - m_c0 AS BIGINT) AS delta_control_milli,
      |  CAST((m_tp - m_t0) - (m_cp - m_c0) AS BIGINT) AS did_milli,
      |  CAST(FLOOR(1000.0 * (CAST((m_tp - m_t0) - (m_cp - m_c0)
      |      AS DOUBLE) / 100000.0)
      |    / SQRT(CAST(v_tp AS DOUBLE) / n_tp + CAST(v_t0 AS DOUBLE)
      |      / n_t0 + CAST(v_cp AS DOUBLE) / n_cp
      |      + CAST(v_c0 AS DOUBLE) / n_c0)) AS BIGINT) AS z_milli
      |FROM w
      |WHERE n_tp >= 2 AND n_t0 >= 2 AND n_cp >= 2 AND n_c0 >= 2
      |  AND v_tp > 0 AND v_t0 > 0 AND v_cp > 0 AND v_c0 > 0
      |""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_mktsegment").isin("AUTOMOBILE", "BUILDING").cast("long")
          .as("treat"),
        (col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .cast("long").as("post"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
          .as("cents"))
    val m = o.groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(expr("(cents div 100) * (cents div 100)")).as("qd"),
        sum(expr("cents div 100")).as("sd"))
      .select(col("treat"), col("post"), col("n"),
        expr("(1000L * s) div n").as("mean_milli"),
        expr("qd div n - (sd div n) * (sd div n)").as("var_d"))
    def cell(t: Int, p: Int, c: String) =
      max(when(col("treat") === t && col("post") === p, col(c)))
    m.agg(
        cell(1, 1, "n").as("n_tp"), cell(1, 0, "n").as("n_t0"),
        cell(0, 1, "n").as("n_cp"), cell(0, 0, "n").as("n_c0"),
        cell(1, 1, "mean_milli").as("m_tp"),
        cell(1, 0, "mean_milli").as("m_t0"),
        cell(0, 1, "mean_milli").as("m_cp"),
        cell(0, 0, "mean_milli").as("m_c0"),
        cell(1, 1, "var_d").as("v_tp"), cell(1, 0, "var_d").as("v_t0"),
        cell(0, 1, "var_d").as("v_cp"), cell(0, 0, "var_d").as("v_c0"))
      .filter(col("n_tp") >= 2 && col("n_t0") >= 2 &&
        col("n_cp") >= 2 && col("n_c0") >= 2 &&
        col("v_tp") > 0 && col("v_t0") > 0 && col("v_cp") > 0 &&
        col("v_c0") > 0)
      .select((col("n_tp") + col("n_t0")).as("n_treated"),
        (col("n_cp") + col("n_c0")).as("n_control"),
        (col("m_tp") - col("m_t0")).as("delta_treat_milli"),
        (col("m_cp") - col("m_c0")).as("delta_control_milli"),
        ((col("m_tp") - col("m_t0")) - (col("m_cp") - col("m_c0")))
          .as("did_milli"),
        floor(lit(1000.0)
          * (((col("m_tp") - col("m_t0"))
              - (col("m_cp") - col("m_c0"))).cast("double") / 100000.0)
          / sqrt(col("v_tp").cast("double") / col("n_tp")
            + col("v_t0").cast("double") / col("n_t0")
            + col("v_cp").cast("double") / col("n_cp")
            + col("v_c0").cast("double") / col("n_c0")))
          .cast("long").as("z_milli"))
  }

  /** q262 — ordered conversion funnel (the user-journey funnel next
    * to q168's CURATION funnel): signup → view → click → purchase,
    * each step required to happen strictly AFTER the previous step's
    * earliest valid occurrence. The per-step anchor is the chained
    * greedy minimum (t₁ = min signup; t_k = min step-k event with
    * ts > t_{k−1}) — the earliest-completion semantics of
    * ClickHouse's windowFunnel, computed as k−1 chained
    * (keyed-agg + equi-join) stages instead of a per-user sequential
    * scan, so no per-user event list is ever materialized. Census:
    * users reaching each step, step-over-step conversion in exact
    * ppm, and the mean inter-step lag in exact integer microseconds
    * (µs epochs subtract exactly on both engines).
    *
    * Scale: each stage is one filtered keyed agg + one broadcast-able
    * join keyed on user_id; state per stage is one timestamp per
    * user. 100 TB grows events per user, never the per-user state. */
  val q262 = QueryDef(
    "q262_conversion_funnel",
    """WITH s1 AS (
      |  SELECT user_id AS u, MIN(ts) AS t FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id AS u, MIN(e.ts) AS t
      |  FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
      |  WHERE e.event_type = 'view' GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id AS u, MIN(e.ts) AS t
      |  FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |s4 AS (
      |  SELECT e.user_id AS u, MIN(e.ts) AS t
      |  FROM events e JOIN s3 ON e.user_id = s3.u AND e.ts > s3.t
      |  WHERE e.event_type = 'purchase' GROUP BY 1),
      |lv AS (
      |  SELECT 1 AS step, 'signup' AS event_type,
      |    CAST(COUNT(*) AS BIGINT) AS users,
      |    CAST(NULL AS BIGINT) AS mean_lag_us
      |  FROM s1
      |  UNION ALL
      |  SELECT 2, 'view', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(epoch_us(s2.t) - epoch_us(s1.t))
      |      // COUNT(*) AS BIGINT)
      |  FROM s2 JOIN s1 ON s2.u = s1.u
      |  UNION ALL
      |  SELECT 3, 'click', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(epoch_us(s3.t) - epoch_us(s2.t))
      |      // COUNT(*) AS BIGINT)
      |  FROM s3 JOIN s2 ON s3.u = s2.u
      |  UNION ALL
      |  SELECT 4, 'purchase', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(epoch_us(s4.t) - epoch_us(s3.t))
      |      // COUNT(*) AS BIGINT)
      |  FROM s4 JOIN s3 ON s4.u = s3.u)
      |SELECT CAST(step AS BIGINT) AS step, event_type, users,
      |  CAST((1000000 * users) // LAG(users, 1, users)
      |    OVER (ORDER BY step) AS BIGINT) AS conv_ppm,
      |  mean_lag_us
      |FROM lv ORDER BY step""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id").as("u"), col("event_type"), col("ts"))
    def stage(prev: DataFrame, typ: String): DataFrame =
      ev.filter(col("event_type") === typ)
        .join(prev.select(col("u"), col("t").as("pt")), Seq("u"))
        .filter(col("ts") > col("pt"))
        .groupBy(col("u"))
        .agg(min(col("ts")).as("t"), min(col("pt")).as("pt0"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("u")).agg(min(col("ts")).as("t"))
    val s2 = stage(s1, "view")
    val s3 = stage(s2, "click")
    val s4 = stage(s3, "purchase")
    def census(df: DataFrame, step: Int, typ: String, lag: Boolean) = {
      val base = if (lag)
        df.agg(count(lit(1)).as("users"),
          expr("sum(unix_micros(t) - unix_micros(pt0)) div count(1)")
            .as("mean_lag_us"))
      else
        df.agg(count(lit(1)).as("users"),
          lit(null).cast("long").as("mean_lag_us"))
      base.select(lit(step.toLong).as("step"),
        lit(typ).as("event_type"), col("users"), col("mean_lag_us"))
    }
    val lv = census(s1, 1, "signup", lag = false)
      .unionByName(census(s2, 2, "view", lag = true))
      .unionByName(census(s3, 3, "click", lag = true))
      .unionByName(census(s4, 4, "purchase", lag = true))
    lv.withColumn("conv_ppm",
        expr("(1000000L * users) div lag(users, 1, users)" +
          " over (order by step)"))
      .select(col("step"), col("event_type"), col("users"),
        col("conv_ppm"), col("mean_lag_us"))
      .orderBy(col("step"))
  }

  /** q263 — shuffle-skew audit for a planned join/aggregation key:
    * the ops query this engine would run on ITSELF before shuffling
    * 100 TB on a key — per-key weight census over l_partkey, the
    * hottest keys with their exact load share, the imbalance factor
    * (max-key load vs the mean key load, in milli), and the salt
    * factor that would level the hottest key across the session's 32
    * shuffle partitions: salt = ⌈max·P/total⌉ as exact integer
    * ceiling division. This is the decision input for the documented
    * AQE-skew/salting story (SURVEY §2's skew stance) — measure,
    * then salt; never guess.
    *
    * Scale: ONE map-side-combinable keyed census (the audit is
    * strictly cheaper than the shuffle it protects), a top-10 rank
    * over it, and a one-row global-moments frame broadcast back. */
  val q263 = QueryDef(
    "q263_skew_audit",
    """WITH kc AS (
      |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(c) AS BIGINT) AS total,
      |    CAST(MAX(c) AS BIGINT) AS mx
      |  FROM kc),
      |top AS (
      |  SELECT k, c, ROW_NUMBER() OVER (ORDER BY c DESC, k) AS rk
      |  FROM kc)
      |SELECT top.k AS hot_key, top.c AS rows_key,
      |  CAST((1000000 * top.c) // g.total AS BIGINT) AS share_ppm,
      |  g.n_keys, g.total AS total_rows,
      |  CAST((1000 * g.mx * g.n_keys) // g.total AS BIGINT)
      |    AS imbalance_milli,
      |  CAST((g.mx * 32 + g.total - 1) // g.total AS BIGINT)
      |    AS salt_factor
      |FROM top CROSS JOIN g
      |WHERE top.rk <= 10
      |ORDER BY rows_key DESC, hot_key""".stripMargin) { (s, d) =>
    val kc = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("c"))
    val g = kc.agg(count(lit(1)).as("n_keys"), sum(col("c")).as("total"),
      max(col("c")).as("mx"))
    val top = graft.functions.TopK.perGroup(kc, Seq.empty,
        col("c"), col("k"), k = 10)
      .select(col("id").as("k"), col("ord").as("c"))
    top.crossJoin(broadcast(g))
      .select(col("k").as("hot_key"), col("c").as("rows_key"),
        expr("(1000000L * c) div total").as("share_ppm"),
        col("n_keys"), col("total").as("total_rows"),
        expr("(1000L * mx * n_keys) div total").as("imbalance_milli"),
        expr("(mx * 32L + total - 1L) div total").as("salt_factor"))
      .orderBy(col("rows_key").desc, col("hot_key"))
  }

  /** q264 — frequent triple itemsets via level-wise Apriori pruning
    * (Agrawal & Srikant 1994): the depth-3 extension of q223's pair
    * association rules. The distributed shape IS the algorithm's
    * point: the within-basket triple join only ever runs over pairs
    * that already passed the support-2 gate — every (a,b) prefix is
    * LEFT-SEMI-joined against the broadcast frequent-pair frame
    * BEFORE the third item joins in, and (b,c)/(a,c) are pruned the
    * same way (downward closure: a frequent triple's sub-pairs are
    * all frequent), so the candidate explosion is bounded by |F₂|,
    * not |items|³. The oracle runs the UNPRUNED textbook triple
    * census with the same support filter — equality proves the
    * pruning is lossless, the q218 orientation-invariance contract.
    *
    * Scale: TPC-H baskets are ≤7 items (the q36 histogram bound);
    * the semi-joined pair frame is support-filtered and broadcast.
    * 100 TB grows basket COUNT — the per-basket join stays bounded
    * and the F₂ gate keeps candidates sparse. */
  val q264 = QueryDef(
    "q264_apriori_triples",
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
      |  FROM lineitem),
      |t AS (
      |  SELECT x.i AS a, y.i AS c, z.i AS e,
      |    CAST(COUNT(*) AS BIGINT) AS support
      |  FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
      |  JOIN items z ON y.b = z.b AND y.i < z.i
      |  GROUP BY 1, 2, 3)
      |SELECT a AS item1, c AS item2, e AS item3, support
      |FROM t WHERE support >= 2
      |ORDER BY support DESC, item1, item2, item3""".stripMargin) {
    (s, d) =>
    // Pinned checkpoints on the reused frames: items feeds three join
    // sides (x, y, z) and pairs feeds both the F2 census and the
    // semi-join — an unpinned plan replays the scan + distinct (and
    // the pair self-join) once per consumer. items is basket-keyed
    // (the q223 pin), so the pair self-join and the triple join read
    // it partition-local on the session's shuffle width; a plain
    // distinct().localCheckpoint() kept AQE's coalesced single
    // partition and ran every later stage on one task.
    val (items, _) = graft.ml.Recommender.basketPin(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i")), "b")
    val pairs = graft.functions.Checkpoints.pin(
      items.as("x").join(items.as("y"),
          col("x.b") === col("y.b") && col("x.i") < col("y.i"))
        .select(col("x.b").as("b"), col("x.i").as("pa"),
          col("y.i").as("pb"))
        .localCheckpoint())
    // ONE broadcast F2 (pa, pb) serves all three semi-joins: each
    // probe renames its two columns onto (pa, pb), so the three
    // broadcast exchanges are the same plan and reuse one build
    val f2 = broadcast(pairs.groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("pa"), col("pb")))
    def inF2(df: DataFrame, x: String, y: String): DataFrame =
      df.withColumnsRenamed(Map(x -> "pa", y -> "pb"))
        .join(f2, Seq("pa", "pb"), "left_semi")
        .withColumnsRenamed(Map("pa" -> x, "pb" -> y))
    val pruned = pairs.join(f2, Seq("pa", "pb"), "left_semi")
      .withColumnRenamed("b", "pbk")
    val tri = inF2(inF2(pruned.join(items.as("z"),
        col("pbk") === col("z.b") && col("pb") < col("z.i"))
      .select(col("pa").as("a"), col("pb").as("c"),
        col("z.i").as("e")), "c", "e"), "a", "e")
    tri.groupBy(col("a"), col("c"), col("e"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select(col("a").as("item1"), col("c").as("item2"),
        col("e").as("item3"), col("support"))
      .orderBy(col("support").desc, col("item1"), col("item2"),
        col("item3"))
  }

  /** q267 — CUPED variance reduction (Deng, Xu, Kohavi & Walker
    * 2013): the experimentation-platform adjustment that shrinks an
    * A/B metric's variance using PRE-period behavior — here Y = a
    * customer's post-1997 spend, covariate X = the same customer's
    * pre-1997 spend, assignment custkey % 2 (an A/A test on
    * randomized data: the true effect is 0, so the adjusted estimate
    * staying ≈ 0 while variance shrinks is exactly the honest-null
    * contract of q261/q245). θ = cov(X,Y)/var(X) from EXACT integer
    * moments on the KILODOLLAR grid (per-customer lifetime spend is
    * ~10⁶ dollars, so even dollars² cross-products overflow 2⁶³ at
    * sf0.1 — measured, not guessed); the milli-snap of a kilodollar
    * difference lands on whole dollars, so the diffs report in
    * dollars exactly; the adjusted difference (Ȳ_t−Ȳ_c) − θ(X̄_t−X̄_c) and the
    * theoretical reduction ρ² = cov²/(varX·varY) are single float
    * expressions over those exact integers, mirrored verbatim in the
    * oracle (the q246/q261 float-last contract). Customers with no
    * pre-period activity enter with X = 0 — CUPED handles them, a
    * pre-filter would bias the arm means.
    *
    * Scale: one orders scan → per-customer keyed census → one 2-arm
    * agg + one pooled-moments agg. Nothing grows but cell weights. */
  val q267 = QueryDef(
    "q267_cuped",
    """WITH cs AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
      |      THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |        // 100000 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |      THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |        // 100000 ELSE 0 END) AS BIGINT) AS y,
      |    CAST(o_custkey % 2 AS BIGINT) AS t
      |  FROM orders GROUP BY 1),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM cs),
      |arms AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
      |  FROM cs GROUP BY 1),
      |w AS (
      |  SELECT
      |    MAX(CASE WHEN t = 1 THEN n END) AS nt,
      |    MAX(CASE WHEN t = 0 THEN n END) AS nc,
      |    MAX(CASE WHEN t = 1 THEN sx END) AS sxt,
      |    MAX(CASE WHEN t = 0 THEN sx END) AS sxc,
      |    MAX(CASE WHEN t = 1 THEN sy END) AS syt,
      |    MAX(CASE WHEN t = 0 THEN sy END) AS syc
      |  FROM arms)
      |SELECT w.nt AS n_treat, w.nc AS n_control,
      |  CAST(FLOOR(1000.0 * (CAST(w.syt AS DOUBLE) / w.nt
      |    - CAST(w.syc AS DOUBLE) / w.nc)) AS BIGINT)
      |    AS raw_diff_dollars,
      |  CAST(FLOOR(1000000.0 * (CAST(g.n * g.sxy - g.sx * g.sy
      |      AS DOUBLE) / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE)))
      |    AS BIGINT) AS theta_micro,
      |  CAST(FLOOR(1000.0 * ((CAST(w.syt AS DOUBLE) / w.nt
      |      - CAST(w.syc AS DOUBLE) / w.nc)
      |    - (CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
      |       / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE))
      |      * (CAST(w.sxt AS DOUBLE) / w.nt
      |         - CAST(w.sxc AS DOUBLE) / w.nc))) AS BIGINT)
      |    AS adj_diff_dollars,
      |  CAST(FLOOR(1000000.0
      |    * CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
      |    * CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
      |    / (CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE)
      |       * CAST(g.n * g.syy - g.sy * g.sy AS DOUBLE)))
      |    AS BIGINT) AS var_reduction_ppm
      |FROM w CROSS JOIN g
      |WHERE g.n * g.sxx > g.sx * g.sx AND g.n * g.syy > g.sy * g.sy
      |  AND w.nt >= 2 AND w.nc >= 2""".stripMargin) { (s, d) =>
    val cs = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(
        sum(when(col("o_orderdate") < lit("1997-01-01").cast("timestamp"),
          expr("cast(floor(o_totalprice * 100 + 0.5) as bigint) div 100000"))
          .otherwise(0L)).as("x"),
        sum(when(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"),
          expr("cast(floor(o_totalprice * 100 + 0.5) as bigint) div 100000"))
          .otherwise(0L)).as("y"))
      .withColumn("t", (col("ck") % 2).cast("long"))
    val g = cs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val w = cs.groupBy(col("t"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
      .agg(
        max(when(col("t") === 1, col("n"))).as("nt"),
        max(when(col("t") === 0, col("n"))).as("nc"),
        max(when(col("t") === 1, col("sx"))).as("sxt"),
        max(when(col("t") === 0, col("sx"))).as("sxc"),
        max(when(col("t") === 1, col("sy"))).as("syt"),
        max(when(col("t") === 0, col("sy"))).as("syc"))
    w.crossJoin(broadcast(g))
      .filter(col("n") * col("sxx") > col("sx") * col("sx") &&
        col("n") * col("syy") > col("sy") * col("sy") &&
        col("nt") >= 2 && col("nc") >= 2)
      .select(col("nt").as("n_treat"), col("nc").as("n_control"),
        floor(lit(1000.0) * (col("syt").cast("double") / col("nt")
          - col("syc").cast("double") / col("nc"))).cast("long")
          .as("raw_diff_dollars"),
        floor(lit(1000000.0)
          * ((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))).cast("long").as("theta_micro"),
        floor(lit(1000.0) * ((col("syt").cast("double") / col("nt")
            - col("syc").cast("double") / col("nc"))
          - ((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
             / (col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
            * (col("sxt").cast("double") / col("nt")
               - col("sxc").cast("double") / col("nc"))))
          .cast("long").as("adj_diff_dollars"),
        floor(lit(1000000.0)
          * (col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
          * (col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
          / ((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
            * (col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double"))).cast("long").as("var_reduction_ppm"))
  }

  /** q268 — Laspeyres / Paasche / Fisher price indices (the index-
    * number trio of official statistics): yearly price level vs the
    * 1995 base, over the parts traded in BOTH periods. Per
    * (part, year) the unit value u = (1000·Σcents)//Σqty is an exact
    * milli-cent integer (the deterministic snap that makes a
    * rational price oracle-able); Laspeyres weights by BASE-year
    * quantities, Paasche by CURRENT-year, each index an exact
    * integer milli ratio (1000·Σu_t·q)÷(Σu_0·q); Fisher is the
    * geometric mean — one floor(√(L·P)) over exact integers (√ is
    * IEEE correctly-rounded, the one libm call both engines agree
    * on).
    *
    * Scale: one (part, year) keyed census, one self-join on part
    * keyed by the base year, two keyed sums. Matched-part counts
    * reported — the index says what it covers. */
  val q268 = QueryDef(
    "q268_price_indices",
    """WITH py AS (
      |  SELECT l_partkey AS pk,
      |    CAST(year(l_shipdate) AS BIGINT) AS yr,
      |    CAST((1000 * SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
      |      AS BIGINT))) // SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |      AS u,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |base AS (SELECT pk, u AS u0, q AS q0 FROM py WHERE yr = 1995),
      |cur AS (SELECT pk, yr, u, q FROM py WHERE yr > 1995),
      |j AS (
      |  SELECT cur.yr, cur.u, cur.q, base.u0, base.q0
      |  FROM cur JOIN base ON cur.pk = base.pk)
      |SELECT yr AS year, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST((1000 * SUM(u * q0)) // SUM(u0 * q0) AS BIGINT)
      |    AS laspeyres_milli,
      |  CAST((1000 * SUM(u * q)) // SUM(u0 * q) AS BIGINT)
      |    AS paasche_milli,
      |  CAST(FLOOR(SQRT(CAST(((1000 * SUM(u * q0)) // SUM(u0 * q0))
      |    * ((1000 * SUM(u * q)) // SUM(u0 * q)) AS DOUBLE)))
      |    AS BIGINT) AS fisher_milli
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val py = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("pk"),
        year(col("l_shipdate")).cast("long").as("yr"))
      .agg(expr("""(1000L * sum(cast(floor(l_extendedprice * 100 + 0.5)
          | as bigint))) div sum(cast(l_quantity as bigint))"""
          .stripMargin).as("u"),
        sum(col("l_quantity").cast("long")).as("q"))
    val base = py.filter(col("yr") === 1995)
      .select(col("pk"), col("u").as("u0"), col("q").as("q0"))
    val j = py.filter(col("yr") > 1995).join(base, Seq("pk"))
    j.groupBy(col("yr").as("year"))
      .agg(count(lit(1)).as("n_parts"),
        expr("(1000L * sum(u * q0)) div sum(u0 * q0)")
          .as("laspeyres_milli"),
        expr("(1000L * sum(u * q)) div sum(u0 * q)")
          .as("paasche_milli"),
        floor(sqrt((expr("(1000L * sum(u * q0)) div sum(u0 * q0)")
          * expr("(1000L * sum(u * q)) div sum(u0 * q)"))
          .cast("double"))).cast("long").as("fisher_milli"))
      .orderBy(col("year"))
  }

  /** q270 — uplift-by-decile with the Qini curve (Radcliffe 2007):
    * the incremental-response evaluation behind every targeting
    * model — rank customers by a score (here pre-1997 spend, the
    * natural "responsiveness" proxy), split into score deciles with
    * the DISTRIBUTED [[graft.functions.Ranks.ntileGlobal]] (q09's
    * machinery — never a global-sort window), and per decile compare
    * treated vs control conversion (treatment = custkey % 2, outcome
    * = ≥3 post-period orders). Decile uplift is the difference of
    * ppm-snapped rates; the Qini ordinate is the exact integer
    * cum_ct − (cum_cc·cum_nt)//cum_nc over the 10-row decile census
    * (the only window in the plan). Randomized assignment ⇒ true
    * uplift 0 — every decile reading ≈ 0 and a flat Qini is the
    * honest null (the q261/q267 contract); a real targeting model
    * plugs its score into the same frame.
    *
    * Scale: one per-customer census, the Ranks bucket pipeline, one
    * 10-row ordered cumsum. */
  val q270 = QueryDef(
    "q270_uplift_qini",
    """WITH cs AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
      |      THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS x,
      |    CASE WHEN SUM(CASE WHEN o_orderdate >=
      |        TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END) >= 3
      |      THEN 1 ELSE 0 END AS conv,
      |    CAST(o_custkey % 2 AS BIGINT) AS t
      |  FROM orders GROUP BY 1),
      |dec AS (
      |  SELECT ck, conv, t,
      |    CAST(NTILE(10) OVER (ORDER BY x DESC, ck) AS BIGINT) AS d
      |  FROM cs),
      |cen AS (
      |  SELECT d,
      |    CAST(SUM(t) AS BIGINT) AS n_t,
      |    CAST(SUM(t * conv) AS BIGINT) AS c_t,
      |    CAST(COUNT(*) - SUM(t) AS BIGINT) AS n_c,
      |    CAST(SUM((1 - t) * conv) AS BIGINT) AS c_c
      |  FROM dec GROUP BY 1),
      |cum AS (
      |  SELECT d, n_t, c_t, n_c, c_c,
      |    CAST(SUM(c_t) OVER (ORDER BY d) AS BIGINT) AS cct,
      |    CAST(SUM(c_c) OVER (ORDER BY d) AS BIGINT) AS ccc,
      |    CAST(SUM(n_t) OVER (ORDER BY d) AS BIGINT) AS cnt,
      |    CAST(SUM(n_c) OVER (ORDER BY d) AS BIGINT) AS cnc
      |  FROM cen)
      |SELECT d AS decile, n_t, c_t, n_c, c_c,
      |  CAST((1000000 * c_t) // n_t - (1000000 * c_c) // n_c
      |    AS BIGINT) AS uplift_ppm,
      |  CAST(cct - (ccc * cnt) // cnc AS BIGINT) AS qini
      |FROM cum ORDER BY decile""".stripMargin) { (s, d) =>
    val cs = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(
        sum(when(col("o_orderdate") < lit("1997-01-01").cast("timestamp"),
          expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
          .otherwise(0L)).as("x"),
        (sum(when(col("o_orderdate") >= lit("1997-01-01")
          .cast("timestamp"), 1L).otherwise(0L)) >= 3).cast("long")
          .as("conv"))
      .withColumn("t", (col("ck") % 2).cast("long"))
    val dec = graft.functions.Ranks.ntileGlobal(cs, 10,
      col("x") * lit(-1L), col("ck"), "d")
    val cen = dec.groupBy(col("d"))
      .agg(sum(col("t")).as("n_t"),
        sum(col("t") * col("conv")).as("c_t"),
        (count(lit(1)) - sum(col("t"))).as("n_c"),
        sum((lit(1L) - col("t")) * col("conv")).as("c_c"))
    val w = Window.orderBy(col("d"))
    cen
      .withColumn("cct", sum(col("c_t")).over(w))
      .withColumn("ccc", sum(col("c_c")).over(w))
      .withColumn("cnt", sum(col("n_t")).over(w))
      .withColumn("cnc", sum(col("n_c")).over(w))
      .select(col("d").as("decile"), col("n_t"), col("c_t"),
        col("n_c"), col("c_c"),
        (expr("(1000000L * c_t) div n_t")
          - expr("(1000000L * c_c) div n_c")).as("uplift_ppm"),
        expr("cct - (ccc * cnt) div cnc").as("qini"))
      .orderBy(col("decile"))
  }

  /** q271 — longest consecutive-month purchase streak per customer
    * (gaps-and-islands on the MONTH grid): the retention "streak"
    * statistic loyalty programs key on, and the calendar-grain
    * sibling of q58's gap-based sessionization. Month index =
    * 12·year + month (integer, no date arithmetic ambiguity); the
    * island id is the classic midx − row_number() difference under a
    * per-customer keyed window (bounded by months-per-customer, ≤
    * the corpus date range); the answer is a streak-length census —
    * how many customers sustained k consecutive active months.
    *
    * Scale: distinct (customer, month) census first (map-side
    * combinable), keyed windows only, output bounded by the calendar
    * (≤ date-range-months distinct streak lengths). */
  val q271 = QueryDef(
    "q271_purchase_streaks",
    """WITH cm AS (
      |  SELECT DISTINCT o_custkey AS ck,
      |    CAST(12 * year(o_orderdate) + month(o_orderdate) AS BIGINT)
      |      AS midx
      |  FROM orders),
      |isl AS (
      |  SELECT ck, midx,
      |    midx - ROW_NUMBER() OVER (PARTITION BY ck ORDER BY midx)
      |      AS isl
      |  FROM cm),
      |st AS (
      |  SELECT ck, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM isl GROUP BY ck, isl),
      |mx AS (SELECT ck, CAST(MAX(len) AS BIGINT) AS best FROM st
      |  GROUP BY 1)
      |SELECT best AS streak_months,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val cm = Tables.orders(s, d)
      .select(col("o_custkey").as("ck"),
        (lit(12L) * year(col("o_orderdate")) + month(col("o_orderdate")))
          .cast("long").as("midx"))
      .distinct()
    val w = Window.partitionBy(col("ck")).orderBy(col("midx"))
    cm.withColumn("isl", col("midx") - row_number().over(w))
      .groupBy(col("ck"), col("isl"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("ck")).agg(max(col("len")).as("best"))
      .groupBy(col("best").as("streak_months"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("streak_months"))
  }

  /** q272 — RFM segmentation (Hughes 1994): the CRM classic —
    * recency / frequency / monetary quintiles, each assigned by the
    * DISTRIBUTED [[graft.functions.Ranks.ntileGlobal]] (three
    * independent rank pipelines, never a global-sort window), with
    * the convention that 5 is best (most recent, most frequent,
    * highest spend). Recency is days from last order to the pinned
    * anchor 1998-08-02 (TPC-H's end of time — a data-derived "today"
    * would make the quintile cuts nondeterministic across engines).
    * Output: the populated RFM-cell census with exact mean spend
    * per cell (≤125 rows).
    *
    * Scale: one per-customer keyed census, 3 rank-bucket pipelines,
    * one ≤125-cell census. */
  val q272 = QueryDef(
    "q272_rfm_segmentation",
    """WITH cs AS (
      |  SELECT o_custkey AS ck,
      |    CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
      |      DATE '1998-08-02') AS BIGINT) AS rec,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS mon
      |  FROM orders GROUP BY 1),
      |sc AS (
      |  SELECT ck, mon,
      |    CAST(NTILE(5) OVER (ORDER BY rec DESC, ck) AS BIGINT) AS r,
      |    CAST(NTILE(5) OVER (ORDER BY freq, ck) AS BIGINT) AS f,
      |    CAST(NTILE(5) OVER (ORDER BY mon, ck) AS BIGINT) AS m
      |  FROM cs)
      |SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(mon) // COUNT(*) AS BIGINT) AS mean_spend_cents
      |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
    (s, d) =>
    val cs = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(datediff(lit("1998-08-02").cast("date"),
          max(col("o_orderdate").cast("date"))).cast("long").as("rec"),
        count(lit(1)).as("freq"),
        sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
          .as("mon"))
    import graft.functions.Ranks
    val r1 = Ranks.ntileGlobal(cs, 5, col("rec") * lit(-1L), col("ck"),
      "r")
    val r2 = Ranks.ntileGlobal(r1, 5, col("freq"), col("ck"), "f")
    val r3 = Ranks.ntileGlobal(r2, 5, col("mon"), col("ck"), "m")
    r3.groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        expr("sum(mon) div count(1)").as("mean_spend_cents"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  /** q274 — seasonal-residual anomaly days (the S-H-ESD shape of
    * Twitter's AnomalyDetection, in its 3σ census form): decompose
    * daily revenue into trend (q252's centered 7-day MA) + additive
    * day-of-week component (q259's residual means), then flag the
    * days whose RESIDUAL leaves the 3σ band — seasonality-aware
    * anomaly detection, where a strong-but-normal Monday never
    * false-positives and a quiet Monday can. The 3σ test is one
    * exact integer comparison (n·r − S)² > 9·(n·Q − S²) on the
    * dollars grid (the q256/q261 cross-multiplied moment
    * discipline — on the KILODOLLAR grid: a dollars-grid Σr² already
    * overflows the 9·n·Q product at sf0.01); residuals go negative,
    * so the milli→kilodollar snap is the q225 sign-safe offset
    * floor-division. Top-10 by exact
    * integer deviation |n·r − S|, with the census totals alongside.
    *
    * Scale: everything after the daily keyed census is
    * calendar-bounded; the moment frame is one broadcast row. */
  val q274 = QueryDef(
    "q274_anomaly_days",
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |ma AS (
      |  SELECT day, y,
      |    CAST(SUM(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS BIGINT) AS s7,
      |    CAST(COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS BIGINT) AS c7
      |  FROM daily),
      |full7 AS (
      |  SELECT day, y, s7 // 7 AS trend FROM ma WHERE c7 = 7),
      |sd AS (
      |  SELECT isodow(day) - 1 AS dw,
      |    CAST((SUM(1000 * y - 1000 * trend)
      |      + COUNT(*) * 1000000000000000) // COUNT(*)
      |      - 1000000000000000 AS BIGINT) AS s
      |  FROM full7 GROUP BY 1),
      |res AS (
      |  SELECT f.day, f.y, f.trend,
      |    CAST((1000 * f.y - 1000 * f.trend - sd.s
      |      + 1000000000000000000) // 100000000 - 10000000000
      |      AS BIGINT) AS rd
      |  FROM full7 f JOIN sd ON isodow(f.day) - 1 = sd.dw),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(rd) AS BIGINT) AS s,
      |    CAST(SUM(rd * rd) AS BIGINT) AS q
      |  FROM res),
      |an AS (
      |  SELECT res.day, res.y, res.trend, res.rd,
      |    ABS(mo.n * res.rd - mo.s) AS dev,
      |    CASE WHEN (mo.n * res.rd - mo.s) * (mo.n * res.rd - mo.s)
      |      > 9 * (mo.n * mo.q - mo.s * mo.s) THEN 1 ELSE 0 END
      |      AS is_anom,
      |    mo.n
      |  FROM res CROSS JOIN mo),
      |tot AS (SELECT CAST(SUM(is_anom) AS BIGINT) AS n_anomalies
      |  FROM an)
      |SELECT an.day, an.y AS revenue_cents, an.trend AS trend_cents,
      |  an.rd AS resid_kdollars,
      |  CAST(an.is_anom AS BIGINT) AS is_anom,
      |  an.n AS n_days, tot.n_anomalies
      |FROM an CROSS JOIN tot
      |ORDER BY an.dev DESC, an.day LIMIT 10""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("y"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val full7 = daily
      .withColumn("s7", sum(col("y")).over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .filter(col("c7") === 7)
      .select(col("day"), col("y"), expr("s7 div 7").as("trend"))
    val sd = full7
      .groupBy(expr("weekday(day)").as("dw"))
      .agg(expr(
        """(sum(1000L * y - 1000L * trend)
          | + count(1) * 1000000000000000L) div count(1)
          | - 1000000000000000L""".stripMargin).as("s"))
    val res = full7.join(broadcast(sd),
        expr("weekday(day)") === col("dw"))
      .select(col("day"), col("y"), col("trend"),
        expr("""(1000L * y - 1000L * trend - s
          | + 1000000000000000000L) div 100000000 - 10000000000L"""
          .stripMargin).as("rd"))
    val mo = res.agg(count(lit(1)).as("n"), sum(col("rd")).as("s"),
      sum(col("rd") * col("rd")).as("q"))
    val an = res.crossJoin(broadcast(mo))
      .withColumn("dev", abs(col("n") * col("rd") - col("s")))
      .withColumn("is_anom",
        ((col("n") * col("rd") - col("s"))
          * (col("n") * col("rd") - col("s"))
          > lit(9L) * (col("n") * col("q") - col("s") * col("s")))
          .cast("long"))
    val tot = an.agg(sum(col("is_anom")).as("n_anomalies"))
    an.crossJoin(broadcast(tot))
      .select(col("day"), col("y").as("revenue_cents"),
        col("trend").as("trend_cents"), col("rd").as("resid_kdollars"),
        col("is_anom"), col("n").as("n_days"), col("n_anomalies"),
        col("dev"))
      .orderBy(col("dev").desc, col("day"))
      .limit(10)
      .drop("dev")
  }

  /** q275 — Mann–Whitney U rank-sum test (Mann & Whitney 1947) per
    * market segment, before vs after 1997-01-01: the NONPARAMETRIC
    * drift test beside q214's mean z-test (which assumes moments
    * matter) and q229's KS (which takes the max gap) — U asks "does
    * a random after-order tend to exceed a random before-order", and
    * is immune to outliers no money metric avoids. Everything is
    * exact integers on the DOUBLED rank grid: census-first over the
    * price ladder (the q229 discipline), the tie-averaged rank of a
    * rung is (2·cum_before + c + 1)/2, so 2·R₁ = Σ c₁·(2·cb + c + 1)
    * needs no halves; 2U = 2R₁ − n₁(n₁+1). The z-statistic uses the
    * exact tie-corrected variance (Σ(t³−t) an integer census sum)
    * with the single float √ last (the q246 contract).
    *
    * Scale: (segment, price) census first — windows run over the
    * price DOMAIN per segment; totals broadcast back. 100 TB adds
    * ladder weight, not rungs. */
  val q275 = QueryDef(
    "q275_mann_whitney",
    """WITH o AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |      THEN 1 ELSE 0 END AS grp
      |  FROM orders JOIN customer c ON o_custkey = c_custkey),
      |cnt AS (
      |  SELECT seg, v, CAST(SUM(grp) AS BIGINT) AS c1,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM o GROUP BY 1, 2),
      |cum AS (
      |  SELECT seg, v, c1, c,
      |    CAST(COALESCE(SUM(c) OVER (PARTITION BY seg ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cb
      |  FROM cnt),
      |agg AS (
      |  SELECT seg,
      |    CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c - c1) AS BIGINT) AS n2,
      |    CAST(SUM(c1 * (2 * cb + c + 1)) AS BIGINT) AS r2x,
      |    CAST(SUM(c * c * c - c) AS BIGINT) AS ties
      |  FROM cum GROUP BY 1)
      |SELECT seg AS segment, n1 AS n_after, n2 AS n_before,
      |  CAST(r2x - n1 * (n1 + 1) AS BIGINT) AS u2x,
      |  CAST(FLOOR(1000.0 * (CAST(r2x - n1 * (n1 + 1) AS DOUBLE) / 2.0
      |      - CAST(n1 AS DOUBLE) * n2 / 2.0)
      |    / SQRT(CAST(n1 AS DOUBLE) * n2 / 12.0
      |      * (CAST(n1 + n2 + 1 AS DOUBLE)
      |        - CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE)
      |          * (n1 + n2 - 1))))) AS BIGINT) AS z_milli
      |FROM agg
      |WHERE n1 >= 2 AND n2 >= 2
      |ORDER BY segment""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
          .as("v"),
        (col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .cast("long").as("grp"))
    val cnt = o.groupBy(col("seg"), col("v"))
      .agg(sum(col("grp")).as("c1"), count(lit(1)).as("c"))
    val wCb = Window.partitionBy(col("seg")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cnt.withColumn("cb",
      coalesce(sum(col("c")).over(wCb), lit(0L)))
    cum.groupBy(col("seg").as("segment"))
      .agg(sum(col("c1")).as("n1"),
        sum(col("c") - col("c1")).as("n2"),
        sum(col("c1") * (lit(2L) * col("cb") + col("c") + 1))
          .as("r2x"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
      .filter(col("n1") >= 2 && col("n2") >= 2)
      .select(col("segment"), col("n1").as("n_after"),
        col("n2").as("n_before"),
        (col("r2x") - col("n1") * (col("n1") + 1)).as("u2x"),
        floor(lit(1000.0)
          * ((col("r2x") - col("n1") * (col("n1") + 1)).cast("double")
              / 2.0
            - col("n1").cast("double") * col("n2") / 2.0)
          / sqrt(col("n1").cast("double") * col("n2") / 12.0
            * ((col("n1") + col("n2") + 1).cast("double")
              - col("ties").cast("double")
                / ((col("n1") + col("n2")).cast("double")
                  * (col("n1") + col("n2") - 1)))))
          .cast("long").as("z_milli"))
      .orderBy(col("segment"))
  }

  /** q277 — Theil T inequality index of customer spend per nation
    * (Theil 1967): the ENTROPY-based inequality measure next to
    * q163's Gini and q250's HHI — the one that decomposes exactly
    * into within-group + between-group parts, which is why inequality
    * studies prefer it. T = Σ x·ln(n·x/X) / X over spenders; each
    * log is one milli-nat snap (mnat(n·x) − mnat(X) — both arguments
    * exact integer cents), the division is the sign-safe offset
    * floor (the snapped sum can dip below zero even though the true
    * X·T is Jensen-nonnegative).
    *
    * Scale: one per-customer keyed census, one per-nation agg.
    * Nothing grows but the weights. */
  val q277 = QueryDef(
    "q277_theil_index",
    s"""WITH cs AS (
      |  SELECT c.c_nationkey AS nat,
      |    CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY c.c_nationkey, o.o_custkey),
      |nt AS (
      |  SELECT nat, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS tx
      |  FROM cs WHERE x >= 1 GROUP BY 1),
      |terms AS (
      |  SELECT cs.nat,
      |    cs.x * (${graft.functions.LangModel.mnatSql("nt.n * cs.x")}
      |      - ${graft.functions.LangModel.mnatSql("nt.tx")}) AS t
      |  FROM cs JOIN nt ON cs.nat = nt.nat
      |  WHERE cs.x >= 1)
      |SELECT t.nat AS nation, nt.n AS n_customers,
      |  CAST((SUM(t.t) + 1000 * nt.tx) // nt.tx - 1000 AS BIGINT)
      |    AS theil_milli_mnat
      |FROM terms t JOIN nt ON t.nat = nt.nat
      |GROUP BY t.nat, nt.n, nt.tx
      |ORDER BY nation""".stripMargin) { (s, d) =>
    import graft.functions.LangModel.mnat
    val cs = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nat"), col("o_custkey"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("x"))
      .filter(col("x") >= 1)
    val nt = cs.groupBy(col("nat"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("tx"))
    cs.join(broadcast(nt), Seq("nat"))
      .select(col("nat"), col("n"), col("tx"),
        (col("x") * (mnat(col("n") * col("x")) - mnat(col("tx"))))
          .as("t"))
      .groupBy(col("nat").as("nation"), col("n").as("n_customers"),
        col("tx"))
      .agg(expr("(sum(t) + 1000L * tx) div tx - 1000L")
        .as("theil_milli_mnat"))
      .select(col("nation"), col("n_customers"),
        col("theil_milli_mnat"))
      .orderBy(col("nation"))
  }

  /** q278 — ABC × Syntetos–Boylan demand-class matrix: q253's
    * revenue Pareto classes crossed with the INTERMITTENT-demand
    * quadrants (Syntetos & Boylan 2005) — plain XYZ's CV-over-all-
    * weeks collapses on sparse retail demand (a first cut here put
    * 100 % of parts in Z: most part-weeks are zero), which is
    * precisely why the forecasting literature classifies by ADI
    * (average demand interval, W/n over demand-ACTIVE weeks n) and
    * CV² of the NONZERO demand sizes instead. Both cuts are exact
    * integer comparisons — ADI ≥ 1.32 ⟺ 100·W ≥ 132·n, CV² ≥ 0.49 ⟺
    * 100·(n·Q − S²) ≥ 49·S² — giving smooth / erratic /
    * intermittent / lumpy, the quadrant that picks the forecasting
    * method (Croston vs SES). ABC rides the same distributed
    * prefixSum as q253.
    *
    * Scale: a (part, week) census + a part census + the Ranks bucket
    * pipeline; the week count is a one-row broadcast; output is the
    * ≤12-cell matrix. */
  val q278 = QueryDef(
    "q278_abc_demand_classes",
    """WITH li AS (
      |  SELECT l_partkey AS pk,
      |    date_diff('day', DATE '1995-01-01',
      |      CAST(l_shipdate AS DATE)) // 7 AS wk,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM lineitem),
      |wc AS (SELECT CAST(COUNT(DISTINCT wk) AS BIGINT) AS w FROM li),
      |pw AS (
      |  SELECT pk, wk, CAST(SUM(qty) AS BIGINT) AS q
      |  FROM li GROUP BY 1, 2),
      |pp AS (
      |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(q) AS BIGINT) AS s,
      |    CAST(SUM(q * q) AS BIGINT) AS qq
      |  FROM pw GROUP BY 1),
      |xyz AS (
      |  SELECT pp.pk,
      |    CASE
      |      WHEN 100 * wc.w < 132 * pp.n
      |        AND 100 * (pp.n * pp.qq - pp.s * pp.s) < 49 * pp.s * pp.s
      |        THEN 'smooth'
      |      WHEN 100 * wc.w < 132 * pp.n THEN 'erratic'
      |      WHEN 100 * (pp.n * pp.qq - pp.s * pp.s) < 49 * pp.s * pp.s
      |        THEN 'intermittent'
      |      ELSE 'lumpy' END AS xyz
      |  FROM pp CROSS JOIN wc),
      |pr AS (
      |  SELECT pk, CAST(SUM(cents) AS BIGINT) AS rev
      |  FROM li GROUP BY 1),
      |t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM pr),
      |c AS (
      |  SELECT pk, rev,
      |    CAST(SUM(rev) OVER (ORDER BY rev DESC, pk) AS BIGINT) AS cum
      |  FROM pr),
      |abc AS (
      |  SELECT c.pk,
      |    CASE WHEN 1000000 * c.cum <= 800000 * t.tot THEN 'A'
      |    WHEN 1000000 * c.cum <= 950000 * t.tot THEN 'B'
      |    ELSE 'C' END AS abc, c.rev
      |  FROM c CROSS JOIN t)
      |SELECT abc.abc, xyz.xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST((1000000 * SUM(abc.rev)) // MAX(t.tot) AS BIGINT)
      |    AS revenue_share_ppm
      |FROM abc JOIN xyz ON abc.pk = xyz.pk CROSS JOIN t
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).select(
      col("l_partkey").as("pk"),
      expr("""cast(datediff(cast(l_shipdate as date),
        | date'1995-01-01') as bigint) div 7""".stripMargin).as("wk"),
      col("l_quantity").cast("long").as("qty"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
        .as("cents"))
    val wc = li.agg(countDistinct(col("wk")).as("w"))
    val pp = li.groupBy(col("pk"), col("wk"))
      .agg(sum(col("qty")).as("q"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("qq"))
    val cvHi = lit(100L) * (col("n") * col("qq") - col("s") * col("s")) >=
      lit(49L) * col("s") * col("s")
    val adiHi = lit(100L) * col("w") >= lit(132L) * col("n")
    val xyz = pp.crossJoin(broadcast(wc))
      .select(col("pk"),
        when(!adiHi && !cvHi, "smooth")
          .when(!adiHi, "erratic")
          .when(!cvHi, "intermittent")
          .otherwise("lumpy").as("xyz"))
    val pr = li.groupBy(col("pk")).agg(sum(col("cents")).as("rev"))
    val t = pr.agg(sum(col("rev")).as("tot"))
    val c = graft.functions.Ranks.prefixSum(pr,
      col("rev") * lit(-1L), col("pk"), col("rev"), "cum")
    val abc = c.crossJoin(broadcast(t))
      .select(col("pk"),
        when(lit(1000000L) * col("cum") <= lit(800000L) * col("tot"),
          "A")
          .when(lit(1000000L) * col("cum") <= lit(950000L) * col("tot"),
            "B")
          .otherwise("C").as("abc"), col("rev"))
    abc.join(xyz, Seq("pk")).crossJoin(broadcast(t))
      .groupBy(col("abc"), col("xyz"))
      .agg(count(lit(1)).as("n_parts"),
        expr("(1000000L * sum(rev)) div max(tot)")
          .as("revenue_share_ppm"))
      .orderBy(col("abc"), col("xyz"))
  }

  /** q279 — negative-binomial overdispersion fit (method of moments)
    * for daily event counts per type: the model-choice census before
    * anyone fits a count model — Poisson demands Var = Mean; real
    * event streams overdisperse, and the NB size parameter
    * r̂ = μ²/(σ²−μ) says by how much. Both the dispersion index
    * D = σ²/μ and r̂ reduce to exact integer ratios of count moments
    * (D_milli = 1000·(n·Q−S²) ÷ (n·S), r̂_milli = 1000·S² ÷
    * (n·Q−S²−n·S)), so the whole fit is count arithmetic — the
    * q187 burstiness statistic upgraded to a model parameter. On
    * this Poisson-uniform synthetic stream D ≈ 1 and r̂ is huge or
    * undefined — the honest null, stated.
    *
    * Scale: one (type, day) census, one per-type moment agg. */
  val q279 = QueryDef(
    "q279_nb_overdispersion",
    """WITH dx AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |mo AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    CAST(SUM(x * x) AS BIGINT) AS q
      |  FROM dx GROUP BY 1)
      |SELECT event_type, n AS n_days, s AS n_events,
      |  CAST((1000 * (n * q - s * s)) // (n * s) AS BIGINT)
      |    AS dispersion_milli,
      |  CAST(CASE WHEN n * q - s * s - n * s > 0
      |    THEN (1000 * s * s) // (n * q - s * s - n * s) END
      |    AS BIGINT) AS nb_r_milli
      |FROM mo WHERE n >= 2 AND s >= 1
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val mo = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
    mo.filter(col("n") >= 2 && col("s") >= 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("s").as("n_events"),
        expr("(1000L * (n * q - s * s)) div (n * s)")
          .as("dispersion_milli"),
        when(col("n") * col("q") - col("s") * col("s")
            - col("n") * col("s") > 0,
          expr("(1000L * s * s) div (n * q - s * s - n * s)"))
          .cast("long").as("nb_r_milli"))
      .orderBy(col("event_type"))
  }

  /** q280 — Croston's method for intermittent demand (Croston 1972):
    * the forecaster q278's quadrants PRESCRIBE for
    * intermittent/lumpy classes — SES (q108's recurrence, α = 1/5)
    * run SEPARATELY on the nonzero demand SIZES and on the
    * inter-demand INTERVALS, forecast = size-level / interval-level;
    * plain SES on the raw series (zeros included) would chase the
    * zeros down and under-forecast every active week. Per brand (25
    * bounded series): both SES folds carry integer milli state, the
    * interval level seeds on the FIRST observed gap (the standard
    * initialization), and the final rate is one snapped division —
    * fold vs recursive-CTE oracle, the q225/q256 contract.
    *
    * Scale: (brand, week) demand census (map-side combinable) → 25
    * bounded folds; state is O(1) per series. At brand grain the
    * synthetic series is dense (gaps ≈ 1 week) and Croston honestly
    * degenerates toward plain SES — the part-grain run is the same
    * fold keyed by part, stated rather than faked here. */
  val q280 = QueryDef(
    "q280_croston_forecast",
    """WITH RECURSIVE li AS (
      |  SELECT p.p_brand AS brand,
      |    date_diff('day', DATE '1995-01-01',
      |      CAST(l.l_shipdate AS DATE)) // 7 AS wk,
      |    CAST(l.l_quantity AS BIGINT) AS qty
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |bw AS (
      |  SELECT brand, wk, CAST(SUM(qty) AS BIGINT) AS z
      |  FROM li GROUP BY 1, 2),
      |obs AS (
      |  SELECT brand, wk, z,
      |    ROW_NUMBER() OVER (PARTITION BY brand ORDER BY wk) AS idx
      |  FROM bw),
      |n AS (SELECT brand, CAST(MAX(idx) AS BIGINT) AS n FROM obs
      |  GROUP BY 1),
      |st AS (
      |  SELECT brand, CAST(1 AS BIGINT) AS idx, wk AS pw,
      |    CAST(1000 * z AS BIGINT) AS zb, CAST(0 AS BIGINT) AS yb
      |  FROM obs WHERE idx = 1
      |  UNION ALL
      |  SELECT o.brand, o.idx, o.wk,
      |    CAST((1000 * o.z + 4 * st.zb) // 5 AS BIGINT) AS zb,
      |    CAST(CASE WHEN st.idx = 1 THEN 1000 * (o.wk - st.pw)
      |      ELSE (1000 * (o.wk - st.pw) + 4 * st.yb) // 5 END
      |      AS BIGINT) AS yb
      |  FROM st JOIN obs o ON o.brand = st.brand
      |    AND o.idx = st.idx + 1)
      |SELECT st.brand, n.n AS n_demand_weeks,
      |  st.zb AS size_level_milli, st.yb AS interval_level_milli,
      |  CAST((1000 * st.zb) // st.yb AS BIGINT) AS forecast_milli
      |FROM st JOIN n ON st.brand = n.brand AND st.idx = n.n
      |WHERE n.n >= 2
      |ORDER BY st.brand""".stripMargin) { (s, d) =>
    val bw = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("""cast(datediff(cast(l_shipdate as date),
          | date'1995-01-01') as bigint) div 7""".stripMargin)
          .as("wk"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy(col("brand"), col("wk"))
      .agg(sum(col("qty")).as("z"))
    bw.select(col("brand"), struct(col("wk"), col("z")).as("rec"))
      .groupBy(col("brand"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .withColumn("st", expr(
        """aggregate(
          |  slice(recs, 2, size(recs) - 1),
          |  named_struct('pw', recs[0].wk, 'zb', 1000L * recs[0].z,
          |    'yb', 0L, 't', 1L),
          |  (acc, x) -> named_struct(
          |    'pw', x.wk,
          |    'zb', (1000L * x.z + 4L * acc.zb) div 5,
          |    'yb', if(acc.t = 1L, 1000L * (x.wk - acc.pw),
          |      (1000L * (x.wk - acc.pw) + 4L * acc.yb) div 5),
          |    't', acc.t + 1L))
          |""".stripMargin))
      .select(col("brand"), col("n").as("n_demand_weeks"),
        col("st.zb").as("size_level_milli"),
        col("st.yb").as("interval_level_milli"),
        expr("(1000L * st.zb) div st.yb").as("forecast_milli"))
      .orderBy(col("brand"))
  }

  /** q281 — newsvendor safety stock at a 95 % service level: the
    * stocking decision q278's classes and q280's forecast feed — per
    * brand, the critical-fractile quantile of WEEKLY demand
    * (including zero weeks: skipping them inflates the quantile,
    * the same trap q278 documents) minus mean demand. Zero weeks
    * never materialize as rows: with W corpus weeks and n
    * demand-active weeks, the rank-⌈0.95·W⌉ order statistic reads
    * off the demand ladder cumsum OFFSET BY the W−n implicit zeros —
    * exact, rank-based, no interpolation (the q254 discipline).
    *
    * Scale: (brand, week) census → per-brand demand-DOMAIN-bounded
    * ladder windows; the week count is a one-row broadcast. */
  val q281 = QueryDef(
    "q281_safety_stock",
    """WITH li AS (
      |  SELECT p.p_brand AS brand,
      |    date_diff('day', DATE '1995-01-01',
      |      CAST(l.l_shipdate AS DATE)) // 7 AS wk,
      |    CAST(l.l_quantity AS BIGINT) AS qty
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |wc AS (SELECT CAST(COUNT(DISTINCT wk) AS BIGINT) AS w FROM li),
      |bw AS (
      |  SELECT brand, wk, CAST(SUM(qty) AS BIGINT) AS z
      |  FROM li GROUP BY 1, 2),
      |lad AS (
      |  SELECT brand, z, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM bw GROUP BY 1, 2),
      |agg AS (
      |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_weeks,
      |    CAST(SUM(z) AS BIGINT) AS s
      |  FROM bw GROUP BY 1),
      |cum AS (
      |  SELECT lad.brand, lad.z,
      |    CAST(SUM(lad.c) OVER (PARTITION BY lad.brand ORDER BY lad.z)
      |      AS BIGINT) AS cc
      |  FROM lad),
      |q AS (
      |  SELECT cum.brand,
      |    MIN(CASE WHEN 100 * ((wc.w - a.n_weeks) + cum.cc)
      |      >= 95 * wc.w THEN cum.z END) AS q95
      |  FROM cum JOIN agg a ON cum.brand = a.brand CROSS JOIN wc
      |  GROUP BY 1)
      |SELECT q.brand, a.n_weeks AS demand_weeks,
      |  CAST((1000 * a.s) // wc.w AS BIGINT) AS mean_weekly_milli,
      |  CAST(q.q95 AS BIGINT) AS q95_weekly,
      |  CAST(1000 * q.q95 - (1000 * a.s) // wc.w AS BIGINT)
      |    AS safety_stock_milli
      |FROM q JOIN agg a ON q.brand = a.brand CROSS JOIN wc
      |ORDER BY q.brand""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("""cast(datediff(cast(l_shipdate as date),
          | date'1995-01-01') as bigint) div 7""".stripMargin)
          .as("wk"),
        col("l_quantity").cast("long").as("qty"))
    val wc = li.agg(countDistinct(col("wk")).as("w"))
    val bw = li.groupBy(col("brand"), col("wk"))
      .agg(sum(col("qty")).as("z"))
    val lad = bw.groupBy(col("brand"), col("z"))
      .agg(count(lit(1)).as("c"))
    val agg = bw.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_weeks"), sum(col("z")).as("s"))
    val wCum = Window.partitionBy(col("brand")).orderBy(col("z"))
    val cum = lad.withColumn("cc", sum(col("c")).over(wCum))
    val q = cum.join(broadcast(agg), Seq("brand"))
      .crossJoin(broadcast(wc))
      .groupBy(col("brand"))
      .agg(min(when(lit(100L) * ((col("w") - col("n_weeks"))
          + col("cc")) >= lit(95L) * col("w"), col("z"))).as("q95"))
    q.join(broadcast(agg), Seq("brand")).crossJoin(broadcast(wc))
      .select(col("brand"), col("n_weeks").as("demand_weeks"),
        expr("(1000L * s) div w").as("mean_weekly_milli"),
        col("q95").as("q95_weekly"),
        (lit(1000L) * col("q95") - expr("(1000L * s) div w"))
          .as("safety_stock_milli"))
      .orderBy(col("brand"))
  }

  /** q283 — engagement stickiness (DAU/WAU, the product-analytics
    * habit ratio): per epoch-week, average daily active users over
    * weekly active users in exact ppm — the "how habitual is usage"
    * number next to q64's cohort retention (weekly grain because the
    * synthetic event stream spans ~one month; DAU/MAU would be one
    * row). DAU enters as Σ_days |active(day)| (one (day, user)
    * census, then a day census), WAU as the weekly distinct;
    * stickiness = 10⁶·Σdaily ÷ (days_in_week·WAU), all exact
    * integers — the mean-of-ratios pitfall (averaging per-day
    * ratios) is avoided by construction.
    *
    * Scale: two distinct censuses off one scan, calendar-bounded
    * output. */
  val q283 = QueryDef(
    "q283_stickiness",
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dd AS (
      |  SELECT date_diff('day', DATE '1995-01-01', day) // 7 AS wk,
      |    day, CAST(COUNT(*) AS BIGINT) AS dau
      |  FROM du GROUP BY 1, 2),
      |ds AS (
      |  SELECT wk, CAST(SUM(dau) AS BIGINT) AS sum_dau,
      |    CAST(COUNT(*) AS BIGINT) AS n_days
      |  FROM dd GROUP BY 1),
      |mu AS (
      |  SELECT date_diff('day', DATE '1995-01-01',
      |      CAST(ts AS DATE)) // 7 AS wk,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      |  FROM events GROUP BY 1)
      |SELECT CAST(ds.wk AS BIGINT) AS week_idx, ds.n_days,
      |  ds.sum_dau, mu.wau,
      |  CAST(ds.sum_dau // ds.n_days AS BIGINT) AS avg_dau,
      |  CAST((1000000 * ds.sum_dau) // (ds.n_days * mu.wau)
      |    AS BIGINT) AS stickiness_ppm
      |FROM ds JOIN mu ON ds.wk = mu.wk
      |ORDER BY week_idx""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("ts").cast("date").as("day"), col("user_id"))
    def wkCol = expr(
      "cast(datediff(day, date'1995-01-01') as bigint) div 7")
    val du = ev.distinct()
    val dd = du.groupBy(wkCol.as("wk"), col("day"))
      .agg(count(lit(1)).as("dau"))
    val ds = dd.groupBy(col("wk"))
      .agg(sum(col("dau")).as("sum_dau"), count(lit(1)).as("n_days"))
    val mu = ev.groupBy(wkCol.as("wk"))
      .agg(countDistinct(col("user_id")).as("wau"))
    ds.join(mu, Seq("wk"))
      .select(col("wk").as("week_idx"), col("n_days"),
        col("sum_dau"), col("wau"),
        expr("sum_dau div n_days").as("avg_dau"),
        expr("(1000000L * sum_dau) div (n_days * wau)")
          .as("stickiness_ppm"))
      .orderBy(col("week_idx"))
  }

  /** q284 — salted two-phase aggregation, oracle-proven: the skew
    * mitigation q263's audit RECOMMENDS, run end to end and gated on
    * exact equality with the plain single-phase oracle. Phase 1
    * aggregates by (key, salt) with salt = orderkey % 8 — a hot key's
    * rows split across 8 reducers; phase 2 merges the partials by
    * key (SUM of SUMs, SUM of COUNTs — every aggregate here is
    * algebraic, which is WHY the pattern is sound; a non-algebraic
    * median would need the q121-style sketch instead). The oracle is
    * the textbook one-phase GROUP BY: hash-equality IS the proof
    * that salting changes the shuffle, not the answer.
    *
    * Scale: the point of the query — the phase-1 shuffle key has 8×
    * the cardinality and 1/8 the per-key weight; phase 2 shuffles
    * the tiny partial frame. */
  val q284 = QueryDef(
    "q284_salted_aggregation",
    """SELECT l_partkey AS pk,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |WHERE l_partkey < 500
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val p1 = Tables.lineitem(s, d)
      .filter(col("l_partkey") < 500)
      .groupBy(col("l_partkey").as("pk"),
        (col("l_orderkey") % 8).as("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("l_quantity").cast("long")).as("pq"))
    p1.groupBy(col("pk"))
      .agg(sum(col("pn")).as("n_items"), sum(col("pq")).as("sum_qty"))
      .orderBy(col("pk"))
  }

  /** q285 — multi-touch attribution model comparison: the FOUR
    * simple industry models (first-touch, last-touch, linear,
    * position-decay) side by side per channel, with the
    * max-disagreement column that tells a marketing team whether the
    * model choice even matters — the heuristic-model companion to
    * q237's Shapley (game-theoretic) and q182's Markov evaluation.
    * Touches are a user's events strictly before their first
    * purchase; every credit is integer-exact: first/last are keyed
    * min/max picks, linear splits 10⁶ by floor-division per touch,
    * and position-decay halves per step back from conversion with
    * pure bit-shift weights 2^min(pos_back, 20) — no exp, no float,
    * the weight grid both engines share trivially.
    *
    * Scale: one first-purchase keyed min, one touch frame with
    * per-user keyed windows (bounded by events-per-user), four keyed
    * censuses. */
  val q285 = QueryDef(
    "q285_attribution_models",
    """WITH fp AS (
      |  SELECT user_id AS u, MIN(ts) AS pt FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |tch AS (
      |  SELECT e.user_id AS u, e.event_type AS ch, e.ts,
      |    ROW_NUMBER() OVER (PARTITION BY e.user_id
      |      ORDER BY e.ts, e.event_id) AS pos,
      |    COUNT(*) OVER (PARTITION BY e.user_id) AS n
      |  FROM events e JOIN fp ON e.user_id = fp.u AND e.ts < fp.pt),
      |ft AS (
      |  SELECT ch, CAST(1000000 * COUNT(*) AS BIGINT) AS w
      |  FROM tch WHERE pos = 1 GROUP BY 1),
      |lt AS (
      |  SELECT ch, CAST(1000000 * COUNT(*) AS BIGINT) AS w
      |  FROM tch WHERE pos = n GROUP BY 1),
      |lin AS (
      |  SELECT ch, CAST(SUM(1000000 // n) AS BIGINT) AS w
      |  FROM tch GROUP BY 1),
      |dk AS (
      |  SELECT u, ch,
      |    CAST(1 << CAST(LEAST(n - pos, 20) AS INT) AS BIGINT) AS wt,
      |    CAST(SUM(1 << CAST(LEAST(n - pos, 20) AS INT))
      |      OVER (PARTITION BY u) AS BIGINT) AS tw
      |  FROM tch),
      |dec AS (
      |  SELECT ch, CAST(SUM((1000000 * wt) // tw) AS BIGINT) AS w
      |  FROM dk GROUP BY 1),
      |tot AS (
      |  SELECT
      |    (SELECT SUM(w) FROM ft) AS tf, (SELECT SUM(w) FROM lt) AS tl,
      |    (SELECT SUM(w) FROM lin) AS tn, (SELECT SUM(w) FROM dec) AS td)
      |SELECT ft.ch AS channel,
      |  CAST((1000000 * ft.w) // tot.tf AS BIGINT) AS first_ppm,
      |  CAST((1000000 * lt.w) // tot.tl AS BIGINT) AS last_ppm,
      |  CAST((1000000 * lin.w) // tot.tn AS BIGINT) AS linear_ppm,
      |  CAST((1000000 * dec.w) // tot.td AS BIGINT) AS decay_ppm,
      |  CAST(GREATEST((1000000 * ft.w) // tot.tf,
      |      (1000000 * lt.w) // tot.tl, (1000000 * lin.w) // tot.tn,
      |      (1000000 * dec.w) // tot.td)
      |    - LEAST((1000000 * ft.w) // tot.tf,
      |      (1000000 * lt.w) // tot.tl, (1000000 * lin.w) // tot.tn,
      |      (1000000 * dec.w) // tot.td) AS BIGINT)
      |    AS disagreement_ppm
      |FROM ft JOIN lt ON ft.ch = lt.ch JOIN lin ON ft.ch = lin.ch
      |JOIN dec ON ft.ch = dec.ch CROSS JOIN tot
      |ORDER BY channel""".stripMargin) { (s, d) =>
    val fp = Tables.events(s, d).filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("u")).agg(min(col("ts")).as("pt"))
    val wP = Window.partitionBy(col("u"))
      .orderBy(col("ts"), col("event_id"))
    val wU = Window.partitionBy(col("u"))
    val tch = Tables.events(s, d)
      .join(fp, col("user_id") === col("u") && col("ts") < col("pt"))
      .select(col("u"), col("event_type").as("ch"), col("ts"),
        col("event_id"))
      .withColumn("pos", row_number().over(wP))
      .withColumn("n", count(lit(1)).over(wU))
    def share(df: DataFrame, nm: String) = {
      val t = df.agg(sum(col("w")).as("t"))
      df.crossJoin(broadcast(t))
        .select(col("ch"), expr("(1000000L * w) div t").as(nm))
    }
    val ft = share(tch.filter(col("pos") === 1).groupBy(col("ch"))
      .agg((lit(1000000L) * count(lit(1))).as("w")), "first_ppm")
    val lt = share(tch.filter(col("pos") === col("n"))
      .groupBy(col("ch"))
      .agg((lit(1000000L) * count(lit(1))).as("w")), "last_ppm")
    val lin = share(tch.groupBy(col("ch"))
      .agg(sum(expr("1000000L div n")).as("w")), "linear_ppm")
    val dk = tch
      .withColumn("wt",
        expr("shiftleft(cast(1 as bigint), cast(least(n - pos, 20L) as int))"))
      .withColumn("tw", sum(col("wt")).over(wU))
    val dec = share(dk.groupBy(col("ch"))
      .agg(sum(expr("(1000000L * wt) div tw")).as("w")), "decay_ppm")
    ft.join(lt, Seq("ch")).join(lin, Seq("ch")).join(dec, Seq("ch"))
      .select(col("ch").as("channel"), col("first_ppm"),
        col("last_ppm"), col("linear_ppm"), col("decay_ppm"),
        (greatest(col("first_ppm"), col("last_ppm"),
          col("linear_ppm"), col("decay_ppm"))
          - least(col("first_ppm"), col("last_ppm"),
            col("linear_ppm"), col("decay_ppm")))
          .as("disagreement_ppm"))
      .orderBy(col("channel"))
  }

  /** q286 — OTIF supplier scorecard (On-Time-In-Full, the
    * supply-chain service KPI): per supplier nation, the share of
    * line items that shipped within the 30-day promise window
    * (on-time, l_shipdate ≤ o_orderdate + 30 — this corpus carries
    * no commit/receipt dates, so the promise is the pinned window,
    * stated) AND were not returned (in-full proxy,
    * l_returnflag ≠ 'R'), in exact ppm — plus the lateness
    * distribution among late lines: mean late days exact, p90 late
    * days RANK-EXACT off the (nation, late-days) ladder (the q254
    * discipline — the window runs over the late-day DOMAIN, not
    * rows).
    *
    * Scale: one lineitem scan + broadcast supplier/nation dims, one
    * keyed census, one domain-bounded ladder window. */
  val q286 = QueryDef(
    "q286_otif_scorecard",
    """WITH li AS (
      |  SELECT s.s_nationkey AS nat,
      |    CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
      |        CAST(l.l_shipdate AS DATE)) <= 30
      |      AND l.l_returnflag <> 'R' THEN 1 ELSE 0 END AS otif,
      |    CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
      |        CAST(l.l_shipdate AS DATE)) > 30
      |      THEN date_diff('day', CAST(o.o_orderdate AS DATE),
      |        CAST(l.l_shipdate AS DATE)) - 30 END AS late
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |base AS (
      |  SELECT nat, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |    CAST(SUM(otif) AS BIGINT) AS n_otif,
      |    CAST(COUNT(late) AS BIGINT) AS n_late,
      |    CAST(COALESCE(SUM(late), 0) AS BIGINT) AS late_days
      |  FROM li GROUP BY 1),
      |lad AS (
      |  SELECT nat, late, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM li WHERE late IS NOT NULL GROUP BY 1, 2),
      |cum AS (
      |  SELECT nat, late,
      |    CAST(SUM(c) OVER (PARTITION BY nat ORDER BY late)
      |      AS BIGINT) AS cc
      |  FROM lad),
      |p90 AS (
      |  SELECT cum.nat,
      |    MIN(CASE WHEN 10 * cum.cc >= 9 * b.n_late THEN cum.late END)
      |      AS p90_late
      |  FROM cum JOIN base b ON cum.nat = b.nat GROUP BY 1)
      |SELECT b.nat AS nation, b.n_lines,
      |  CAST((1000000 * b.n_otif) // b.n_lines AS BIGINT) AS otif_ppm,
      |  CAST(CASE WHEN b.n_late > 0
      |    THEN (1000 * b.late_days) // b.n_late END AS BIGINT)
      |    AS mean_late_milli,
      |  CAST(p90.p90_late AS BIGINT) AS p90_late_days
      |FROM base b JOIN p90 ON b.nat = p90.nat
      |ORDER BY nation""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag0", datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date")).cast("long"))
      .select(col("s_nationkey").as("nat"),
        (col("lag0") <= 30 && col("l_returnflag") =!= "R")
          .cast("long").as("otif"),
        when(col("lag0") > 30, col("lag0") - 30).as("late"))
    val base = li.groupBy(col("nat"))
      .agg(count(lit(1)).as("n_lines"), sum(col("otif")).as("n_otif"),
        count(col("late")).as("n_late"),
        coalesce(sum(col("late")), lit(0L)).as("late_days"))
    val lad = li.filter(col("late").isNotNull)
      .groupBy(col("nat"), col("late"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("nat")).orderBy(col("late"))
    val p90 = lad.withColumn("cc", sum(col("c")).over(wCum))
      .join(broadcast(base.select(col("nat"), col("n_late"))),
        Seq("nat"))
      .groupBy(col("nat"))
      .agg(min(when(lit(10L) * col("cc") >= lit(9L) * col("n_late"),
        col("late"))).as("p90_late"))
    base.join(p90, Seq("nat"))
      .select(col("nat").as("nation"), col("n_lines"),
        expr("(1000000L * n_otif) div n_lines").as("otif_ppm"),
        when(col("n_late") > 0,
          expr("(1000L * late_days) div n_late")).cast("long")
          .as("mean_late_milli"),
        col("p90_late").as("p90_late_days"))
      .orderBy(col("nation"))
  }

  /** q288 — Wilson lower-bound ranking (Wilson 1927; the "how not to
    * sort by average rating" fix): suppliers ranked by the 95 %
    * lower confidence bound of their on-time rate instead of the
    * naive rate — a 10/10 supplier must NOT outrank a 950/1000 one,
    * and the naive sort does exactly that. Successes/trials are
    * exact integer censuses (the q286 on-time definition); the
    * Wilson bound (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²))/(1 + z²/n)
    * is ONE float expression over them with z² = 3.8416 e-4-exact
    * (z = 1.96), mirrored verbatim in the oracle (the q246
    * float-last contract). Output reports both ranks — the flips
    * are the point.
    *
    * Scale: one keyed census; the statistic is a projection; both
    * rankings ride the distributed Ranks pipeline (suppliers grow
    * with data — a partition-less row_number would not hold). */
  val q288 = QueryDef(
    "q288_wilson_ranking",
    """WITH li AS (
      |  SELECT l.l_suppkey AS sk,
      |    CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) <= 30 THEN 1 ELSE 0 END AS ok
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |c AS (
      |  SELECT sk, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(ok) AS BIGINT) AS pos
      |  FROM li GROUP BY 1),
      |w AS (
      |  SELECT sk, n, pos,
      |    CAST(FLOOR(1000000.0
      |      * ((CAST(pos AS DOUBLE) / n + 3.8416 / (2.0 * n)
      |          - 1.96 * SQRT((CAST(pos AS DOUBLE) / n
      |              * (1.0 - CAST(pos AS DOUBLE) / n)) / n
      |            + 3.8416 / (4.0 * CAST(n AS DOUBLE) * n)))
      |        / (1.0 + 3.8416 / n))) AS BIGINT) AS wilson_ppm,
      |    (1000000 * pos) // n AS naive_ppm
      |  FROM c WHERE n >= 1)
      |SELECT sk AS suppkey, n AS n_lines, pos AS n_ontime,
      |  naive_ppm, wilson_ppm,
      |  CAST(ROW_NUMBER() OVER (ORDER BY naive_ppm DESC, sk)
      |    AS BIGINT) AS naive_rank,
      |  CAST(ROW_NUMBER() OVER (ORDER BY wilson_ppm DESC, sk)
      |    AS BIGINT) AS wilson_rank
      |FROM w ORDER BY wilson_rank LIMIT 20""".stripMargin) { (s, d) =>
    val c = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("sk"),
        (datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) <= 30).cast("long")
          .as("ok"))
      .groupBy(col("sk"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("pos"))
    val p = col("pos").cast("double") / col("n")
    val w = c.filter(col("n") >= 1)
      .select(col("sk"), col("n"), col("pos"),
        expr("(1000000L * pos) div n").as("naive_ppm"),
        floor(lit(1000000.0)
          * ((p + lit(3.8416) / (lit(2.0) * col("n"))
            - lit(1.96) * sqrt((p * (lit(1.0) - p)) / col("n")
              + lit(3.8416) / (lit(4.0) * col("n").cast("double")
                * col("n"))))
            / (lit(1.0) + lit(3.8416) / col("n"))))
          .cast("long").as("wilson_ppm"))
    val r1 = graft.functions.Ranks.rowNumberGlobal(w,
      col("naive_ppm") * lit(-1L), col("sk"), "naive_rank")
    graft.functions.Ranks.rowNumberGlobal(r1,
        col("wilson_ppm") * lit(-1L), col("sk"), "wilson_rank")
      .select(col("sk").as("suppkey"), col("n").as("n_lines"),
        col("pos").as("n_ontime"), col("naive_ppm"), col("wilson_ppm"),
        col("naive_rank"), col("wilson_rank"))
      .orderBy(col("wilson_rank"))
      .limit(20)
  }

  /** q289 — referential-integrity audit: the data-contract check a
    * lakehouse runs before trusting any join — orphan counts for
    * every foreign key this schema navigates (lineitem→orders,
    * lineitem→part, lineitem→supplier, orders→customer,
    * customer→nation), each one LEFT-ANTI join census, plus the
    * parent-side childless counts (orders with no lineitems,
    * customers who never ordered) which are legitimate business
    * facts, not errors — the audit distinguishes the two. On this
    * generator all orphan rows are 0: the PASS is the point (the
    * honest-null discipline applied to data quality).
    *
    * Scale: each check is one anti-join keyed on the FK — the
    * cheapest possible proof; output is one row per edge. */
  val q289 = QueryDef(
    "q289_integrity_audit",
    """WITH checks AS (
      |  SELECT 'lineitem->orders' AS fk,
      |    CAST((SELECT COUNT(*) FROM lineitem l
      |      WHERE NOT EXISTS (SELECT 1 FROM orders o
      |        WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
      |      AS n_orphans, 1 AS is_error
      |  UNION ALL
      |  SELECT 'lineitem->part',
      |    CAST((SELECT COUNT(*) FROM lineitem l
      |      WHERE NOT EXISTS (SELECT 1 FROM part p
      |        WHERE p.p_partkey = l.l_partkey)) AS BIGINT), 1
      |  UNION ALL
      |  SELECT 'lineitem->supplier',
      |    CAST((SELECT COUNT(*) FROM lineitem l
      |      WHERE NOT EXISTS (SELECT 1 FROM supplier s
      |        WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT), 1
      |  UNION ALL
      |  SELECT 'orders->customer',
      |    CAST((SELECT COUNT(*) FROM orders o
      |      WHERE NOT EXISTS (SELECT 1 FROM customer c
      |        WHERE c.c_custkey = o.o_custkey)) AS BIGINT), 1
      |  UNION ALL
      |  SELECT 'customer->nation',
      |    CAST((SELECT COUNT(*) FROM customer c
      |      WHERE NOT EXISTS (SELECT 1 FROM nation n
      |        WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT), 1
      |  UNION ALL
      |  SELECT 'orders_childless',
      |    CAST((SELECT COUNT(*) FROM orders o
      |      WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |        WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT), 0
      |  UNION ALL
      |  SELECT 'customers_inactive',
      |    CAST((SELECT COUNT(*) FROM customer c
      |      WHERE NOT EXISTS (SELECT 1 FROM orders o
      |        WHERE o.o_custkey = c.c_custkey)) AS BIGINT), 0)
      |SELECT fk, n_orphans, CAST(is_error AS BIGINT) AS is_error
      |FROM checks ORDER BY fk""".stripMargin) { (s, d) =>
    def cnt(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("n"))
    def check(name: String, err: Int, child: DataFrame, ck: String,
              parent: DataFrame, pk: String): DataFrame =
      cnt(child.join(parent, col(ck) === col(pk), "left_anti"))
        .select(lit(name).as("fk"), col("n").as("n_orphans"),
          lit(err.toLong).as("is_error"))
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    check("lineitem->orders", 1, li, "l_orderkey",
        o.select(col("o_orderkey")), "o_orderkey")
      .unionByName(check("lineitem->part", 1, li, "l_partkey",
        Tables.part(s, d).select(col("p_partkey")), "p_partkey"))
      .unionByName(check("lineitem->supplier", 1, li, "l_suppkey",
        Tables.supplier(s, d).select(col("s_suppkey")), "s_suppkey"))
      .unionByName(check("orders->customer", 1, o, "o_custkey",
        c.select(col("c_custkey")), "c_custkey"))
      .unionByName(check("customer->nation", 1, c, "c_nationkey",
        Tables.nation(s, d).select(col("n_nationkey")), "n_nationkey"))
      .unionByName(check("orders_childless", 0, o, "o_orderkey",
        li.select(col("l_orderkey")), "l_orderkey"))
      .unionByName(check("customers_inactive", 0, c, "c_custkey",
        o.select(col("o_custkey")), "o_custkey"))
      .orderBy(col("fk"))
  }

  /** q290 — catalog long-tail census: the assortment-health view of
    * q273's frequency-of-frequencies machinery — how many catalog
    * parts sold never / once / 2–5 / 6–20 / 21+ times, with each
    * band's share of parts AND of revenue in exact ppm. "Never"
    * comes from the part-table anti-join (the q289 edge in reverse —
    * a childless part is a business fact), so the dead-stock share
    * is first-class, not an afterthought. The classic 80/20 long
    * tail read at the band grain q253's continuous classes can't
    * show.
    *
    * Scale: one sales census + one anti-join + a 5-band census.
    * On this generator the catalog is dense (no never/once bands at
    * test SFs — every part sells 6+ times); the bands exist for the
    * real-world shape and the zero bands simply don't emit rows. */
  val q290 = QueryDef(
    "q290_long_tail",
    """WITH sc AS (
      |  SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |allp AS (
      |  SELECT p.p_partkey AS pk, COALESCE(sc.n, 0) AS n,
      |    COALESCE(sc.rev, 0) AS rev
      |  FROM part p LEFT JOIN sc ON p.p_partkey = sc.pk),
      |band AS (
      |  SELECT CASE WHEN n = 0 THEN '0_never'
      |    WHEN n = 1 THEN '1_once' WHEN n <= 5 THEN '2_to_5'
      |    WHEN n <= 20 THEN '6_to_20' ELSE '21_plus' END AS band,
      |    n, rev
      |  FROM allp),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
      |  CAST(SUM(rev) AS BIGINT) AS tr FROM allp)
      |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(SUM(band.rev) AS BIGINT) AS revenue_cents,
      |  CAST((1000000 * COUNT(*)) // tot.np AS BIGINT) AS part_ppm,
      |  CAST((1000000 * SUM(band.rev)) // tot.tr AS BIGINT)
      |    AS revenue_ppm
      |FROM band CROSS JOIN tot
      |GROUP BY band, tot.np, tot.tr ORDER BY band""".stripMargin) {
    (s, d) =>
    val sc = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
          .as("rev"))
    val allp = Tables.part(s, d).select(col("p_partkey").as("pk"))
      .join(sc, Seq("pk"), "left")
      .select(col("pk"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("rev"), lit(0L)).as("rev"))
    val band = allp.select(
      when(col("n") === 0, "0_never")
        .when(col("n") === 1, "1_once")
        .when(col("n") <= 5, "2_to_5")
        .when(col("n") <= 20, "6_to_20")
        .otherwise("21_plus").as("band"), col("n"), col("rev"))
    val tot = allp.agg(count(lit(1)).as("np"), sum(col("rev")).as("tr"))
    band.crossJoin(broadcast(tot))
      .groupBy(col("band"), col("np"), col("tr"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).as("revenue_cents"))
      .select(col("band"), col("n_parts"), col("revenue_cents"),
        expr("(1000000L * n_parts) div np").as("part_ppm"),
        expr("(1000000L * revenue_cents) div tr").as("revenue_ppm"))
      .orderBy(col("band"))
  }

  /** q291 — price-dispersion census (the "law of one price" audit):
    * per part, how differently the same part is priced across its
    * order lines — unit values on the exact milli-cent grid (the
    * q268 snap), per-part dispersion as the integer range-ratio
    * (max−min)·10³÷min and the CV² cross-comparison (the q278 cut
    * form), then a part-level census of dispersion bands plus the
    * top-10 most dispersed parts by exact integer ratio. High
    * dispersion on a commodity catalog flags pricing-rule drift —
    * the audit a pricing team runs weekly.
    *
    * Scale: one (part) census over line-level unit values. On this
    * generator extendedprice is drawn independently of quantity, so
    * every part lands in the over-50 % band — the audit reads as a
    * loud pricing-rule violation, which for this synthetic pricing
    * is the true answer. */
  val q291 = QueryDef(
    "q291_price_dispersion",
    """WITH uv AS (
      |  SELECT l_partkey AS pk,
      |    (1000 * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      // CAST(l_quantity AS BIGINT) AS u
      |  FROM lineitem WHERE l_quantity >= 1),
      |pp AS (
      |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(MIN(u) AS BIGINT) AS lo, CAST(MAX(u) AS BIGINT) AS hi
      |  FROM uv GROUP BY 1 HAVING COUNT(*) >= 2 AND MIN(u) >= 1),
      |sp AS (
      |  SELECT pk, n, lo, hi,
      |    (1000 * (hi - lo)) // lo AS spread_milli
      |  FROM pp)
      |SELECT CASE WHEN spread_milli = 0 THEN '0_uniform'
      |    WHEN spread_milli <= 100 THEN '1_under_10pct'
      |    WHEN spread_milli <= 500 THEN '2_under_50pct'
      |    ELSE '3_over_50pct' END AS band,
      |  CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST(MAX(spread_milli) AS BIGINT) AS max_spread_milli
      |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val uv = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 1)
      .select(col("l_partkey").as("pk"),
        expr("""(1000L * cast(floor(l_extendedprice * 100 + 0.5)
          | as bigint)) div cast(l_quantity as bigint)"""
          .stripMargin).as("u"))
    val sp = uv.groupBy(col("pk"))
      .agg(count(lit(1)).as("n"), min(col("u")).as("lo"),
        max(col("u")).as("hi"))
      .filter(col("n") >= 2 && col("lo") >= 1)
      .withColumn("spread_milli", expr("(1000L * (hi - lo)) div lo"))
    sp.groupBy(
        when(col("spread_milli") === 0, "0_uniform")
          .when(col("spread_milli") <= 100, "1_under_10pct")
          .when(col("spread_milli") <= 500, "2_under_50pct")
          .otherwise("3_over_50pct").as("band"))
      .agg(count(lit(1)).as("n_parts"),
        max(col("spread_milli")).as("max_spread_milli"))
      .orderBy(col("band"))
  }

  /** q292 — Spearman rank correlation (Spearman 1904) between part
    * order-frequency and part revenue: the rank-based association
    * next to q246's Pearson — immune to the revenue distribution's
    * heavy tail. Both rankings ride the distributed
    * [[graft.functions.Ranks.rowNumberGlobal]] (never a
    * partition-less window — parts grow with data), ties broken by
    * part key on both engines identically, and ρ = 1 − 6Σd²/(n³−n)
    * is exact integers until one final milli snap: Σd² is a sum of
    * squared integer rank differences. The tie-break-as-ranking
    * convention (row_number, not average ranks) is pinned in the
    * doc and mirrored by the oracle's ROW_NUMBER.
    *
    * Scale: one part census + two rank-bucket pipelines + one keyed
    * agg. */
  val q292 = QueryDef(
    "q292_spearman",
    """WITH pc AS (
      |  SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT pk,
      |    CAST(ROW_NUMBER() OVER (ORDER BY freq, pk) AS BIGINT) AS rf,
      |    CAST(ROW_NUMBER() OVER (ORDER BY rev, pk) AS BIGINT) AS rr
      |  FROM pc),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM((rf - rr) * (rf - rr)) AS BIGINT) AS d2
      |  FROM r)
      |SELECT n AS n_parts, d2 AS sum_d2,
      |  CAST(1000 - FLOOR(6000.0 * d2 / (CAST(n AS DOUBLE) * n * n - n))
      |    AS BIGINT) AS spearman_milli
      |FROM agg WHERE n >= 2""".stripMargin) { (s, d) =>
    val pc = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("freq"),
        sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
          .as("rev"))
    val r1 = graft.functions.Ranks.rowNumberGlobal(pc, col("freq"),
      col("pk"), "rf")
    val r2 = graft.functions.Ranks.rowNumberGlobal(r1, col("rev"),
      col("pk"), "rr")
    r2.agg(count(lit(1)).as("n"),
        sum((col("rf") - col("rr")) * (col("rf") - col("rr")))
          .as("d2"))
      .filter(col("n") >= 2)
      .select(col("n").as("n_parts"), col("d2").as("sum_d2"),
        // the n³ term rides a DOUBLE: int64 n·n·n−n wraps silently at
        // n ≳ 2×10⁶ parts in non-ANSI Spark while DuckDB raises — a
        // silent-vs-loud engine divergence. FLOOR of the identical
        // IEEE expression is bit-equal on both engines at any n, and
        // the milli value is exact while 6000·d2 < 2⁵³ (n ≲ 10⁵) with
        // ≤1-milli rounding past that — acceptable for a coefficient
        // read at 3 decimals.
        expr("1000L - cast(floor(6000.0 * d2 /" +
          " (cast(n as double) * n * n - n)) as long)")
          .as("spearman_milli"))
  }

  /** q293 — randomization inference (Fisher's exact-test logic at
    * scale): instead of a normal approximation, the null
    * distribution of the treated-vs-control spend difference is
    * REBUILT from 32 deterministic re-assignments — draw b assigns
    * treat = contentU32(custkey·32 + b) % 2 (the portable md5-slice
    * hash of q214/q235, a fresh pseudo-assignment per draw), so
    * every "permutation" is a conditional sum in the SAME single
    * pass (explode ×32, one keyed agg; no shuffled assignments, no
    * RNG, bit-identical on both engines). The p-value is the share of rotations whose |snapped
    * mean difference| ≥ the observed rotation's (b = 0), reported in
    * 32nds — on randomized data the observed diff is a typical draw
    * (p ≈ uniform), the q261/q267 honest-null contract in its
    * strongest form: the test carries NO distributional assumption
    * at all.
    *
    * Scale: one ×32 explode of the per-customer census (the q235
    * width-explode discipline), one keyed agg over (rotation), one
    * 32-row comparison. */
  val q293 = QueryDef(
    "q293_randomization_test",
    s"""WITH cs AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |hv AS (
      |  SELECT b.b, cs.ck, cs.x,
      |    md5(CAST(cs.ck * 32 + b.b AS VARCHAR)) AS hx
      |  FROM cs CROSS JOIN (SELECT UNNEST(range(32)) AS b) b),
      |rot AS (
      |  SELECT b, ck, x,
      |    CAST(${graft.queries.TextQueries.hexU32Sql(1)} % 2
      |      AS BIGINT) AS t
      |  FROM hv),
      |dm AS (
      |  SELECT b, CAST(SUM(t * x) AS BIGINT) AS st,
      |    CAST(SUM(t) AS BIGINT) AS nt,
      |    CAST(SUM((1 - t) * x) AS BIGINT) AS sc,
      |    CAST(COUNT(*) - SUM(t) AS BIGINT) AS nc
      |  FROM rot GROUP BY 1),
      |diff AS (
      |  SELECT b, ABS((1000 * st) // nt - (1000 * sc) // nc)
      |    AS adiff
      |  FROM dm WHERE nt >= 1 AND nc >= 1),
      |obs AS (SELECT adiff AS o FROM diff WHERE b = 0)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rotations,
      |  CAST(MAX(obs.o) AS BIGINT) AS observed_diff_milli,
      |  CAST(SUM(CASE WHEN diff.adiff >= obs.o THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_as_extreme
      |FROM diff CROSS JOIN obs""".stripMargin) { (s, d) =>
    val cs = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("x"))
    val rot = cs.select(col("ck"), col("x"),
        explode(expr("sequence(0L, 31L)")).as("b"))
      .withColumn("t", graft.curation.Curation
        .contentU32(col("ck") * 32 + col("b")) % 2)
    val diff = rot.groupBy(col("b"))
      .agg(sum(col("t") * col("x")).as("st"), sum(col("t")).as("nt"),
        sum((lit(1L) - col("t")) * col("x")).as("sc"),
        (count(lit(1)) - sum(col("t"))).as("nc"))
      .filter(col("nt") >= 1 && col("nc") >= 1)
      .select(col("b"),
        abs(expr("(1000L * st) div nt") - expr("(1000L * sc) div nc"))
          .as("adiff"))
    val obs = diff.filter(col("b") === 0)
      .select(col("adiff").as("o"))
    diff.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_rotations"),
        max(col("o")).as("observed_diff_milli"),
        sum(when(col("adiff") >= col("o"), 1L).otherwise(0L))
          .as("n_as_extreme"))
  }

  /** q294 — ROC AUC via the rank-sum identity: the headline binary-
    * classifier metric computed EXACTLY and distributed — AUC is the
    * Mann–Whitney U normalized (AUC = (R₊ − n₊(n₊+1)/2)/(n₊·n₋)), so
    * q275's census-first doubled-rank ladder gives it with zero
    * approximation: tie-averaged ranks stay integer on the 2× grid,
    * and the final AUC is one snapped integer division to micro
    * units. No sort of the full score column ever happens — scores
    * are quantized to $100 rungs first (ties within a rung get the
    * averaged rank, exactly), so the ladder window runs over a
    * spend-DOMAIN-bounded frame (~10⁴ rungs regardless of row
    * count) — what's measured is the AUC of the quantized scorer,
    * exact. Scorer = pre-1997
    * spend, label = ≥3 post-period orders (the q270 pair): they are
    * independent in this data, so AUC ≈ 0.5 is the honest null, and
    * any real model's scores drop into the same frame.
    *
    * Scale: one per-customer census, one domain-bounded ladder
    * cumsum, one row out. */
  val q294 = QueryDef(
    "q294_auc",
    """WITH cs AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
      |      THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS score,
      |    CASE WHEN SUM(CASE WHEN o_orderdate >=
      |        TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END) >= 3
      |      THEN 1 ELSE 0 END AS pos
      |  FROM orders GROUP BY 1),
      |cnt AS (
      |  SELECT score // 10000 AS v, CAST(SUM(pos) AS BIGINT) AS c1,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM cs GROUP BY 1),
      |cum AS (
      |  SELECT v, c1, c,
      |    CAST(COALESCE(SUM(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cb
      |  FROM cnt),
      |agg AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS np,
      |    CAST(SUM(c - c1) AS BIGINT) AS nn,
      |    CAST(SUM(c1 * (2 * cb + c + 1)) AS BIGINT) AS r2x
      |  FROM cum)
      |SELECT np AS n_pos, nn AS n_neg,
      |  CAST((1000000 * (r2x - np * (np + 1)))
      |    // (2 * np * nn) AS BIGINT) AS auc_micro
      |FROM agg WHERE np >= 1 AND nn >= 1""".stripMargin) { (s, d) =>
    val cs = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(
        sum(when(col("o_orderdate") < lit("1997-01-01").cast("timestamp"),
          expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
          .otherwise(0L)).as("score"),
        (sum(when(col("o_orderdate") >= lit("1997-01-01")
          .cast("timestamp"), 1L).otherwise(0L)) >= 3).cast("long")
          .as("pos"))
    val cnt = cs.groupBy(expr("score div 10000").as("v"))
      .agg(sum(col("pos")).as("c1"), count(lit(1)).as("c"))
    val wCb = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cnt.withColumn("cb", coalesce(sum(col("c")).over(wCb), lit(0L)))
      .agg(sum(col("c1")).as("np"),
        sum(col("c") - col("c1")).as("nn"),
        sum(col("c1") * (lit(2L) * col("cb") + col("c") + 1))
          .as("r2x"))
      .filter(col("np") >= 1 && col("nn") >= 1)
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        expr("""(1000000L * (r2x - np * (np + 1)))
          | div (2 * np * nn)""".stripMargin).as("auc_micro"))
  }

  /** q295 — Cramér's V association strength (Cramér 1946) for the
    * market-segment × order-priority contingency: the EFFECT-SIZE
    * companion to a χ² test — χ² says "is there any association",
    * V ∈ [0,1] says "how much", comparable across table sizes. The
    * χ² sum runs over the FULL margin grid (row margins × column
    * margins, observed counts left-joined with obs→0, so an empty
    * cell still contributes its expected mass E = R·C/N — dropping it
    * understates χ² identically on both engines, which is exactly the
    * class of bug the oracle gate cannot catch) with every
    * (O·N − R·C)² and R·C·N an exact integer product (the q233
    * cross-multiplied cell discipline; per-cell float division only
    * at the end of each bounded term), and V = √(χ²/(N·min(r−1,c−1)))
    * is the single
    * trailing float √. On independent TPC-H columns V ≈ 0 — the
    * honest null.
    *
    * Scale: one keyed cell census + two broadcast margins; the
    * statistic lives on the ≤25-row grid. */
  val q295 = QueryDef(
    "q295_cramers_v",
    """WITH o AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |cell AS (
      |  SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS obs
      |  FROM o GROUP BY 1, 2),
      |mr AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS r FROM cell
      |  GROUP BY 1),
      |mc AS (SELECT pri, CAST(SUM(obs) AS BIGINT) AS c FROM cell
      |  GROUP BY 1),
      |nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT seg) AS BIGINT) AS nr,
      |  CAST(COUNT(DISTINCT pri) AS BIGINT) AS nc FROM cell),
      |chi AS (
      |  SELECT SUM(CAST((COALESCE(cell.obs, 0) * nn.n - mr.r * mc.c)
      |        AS DOUBLE)
      |      * (COALESCE(cell.obs, 0) * nn.n - mr.r * mc.c)
      |      / (CAST(mr.r AS DOUBLE) * mc.c * nn.n)) AS chi2,
      |    MAX(nn.n) AS n, MAX(nn.nr) AS nr, MAX(nn.nc) AS nc
      |  FROM mr CROSS JOIN mc CROSS JOIN nn
      |  LEFT JOIN cell ON cell.seg = mr.seg AND cell.pri = mc.pri)
      |SELECT CAST(n AS BIGINT) AS n_orders,
      |  CAST(FLOOR(1000 * chi2) AS BIGINT) AS chi2_milli,
      |  CAST(FLOOR(1000000 * SQRT(chi2 / (CAST(n AS DOUBLE)
      |    * LEAST(nr - 1, nc - 1)))) AS BIGINT) AS cramers_v_micro
      |FROM chi WHERE n >= 2""".stripMargin) { (s, d) =>
    val cell = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
        col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("obs"))
    val mr = cell.groupBy(col("seg")).agg(sum(col("obs")).as("r"))
    val mc = cell.groupBy(col("pri")).agg(sum(col("obs")).as("c"))
    val nn = cell.agg(sum(col("obs")).as("n"),
      countDistinct(col("seg")).as("nr"),
      countDistinct(col("pri")).as("nc"))
    // full grid: margins cross-joined (≤ 5×5 broadcast rows), observed
    // counts LEFT-joined with obs→0 so empty cells contribute E
    broadcast(mr).crossJoin(broadcast(mc))
      .join(cell, Seq("seg", "pri"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .crossJoin(broadcast(nn))
      .agg(sum((col("obs") * col("n") - col("r") * col("c"))
          .cast("double")
          * (col("obs") * col("n") - col("r") * col("c"))
          / (col("r").cast("double") * col("c") * col("n")))
          .as("chi2"),
        max(col("n")).as("n"), max(col("nr")).as("nr"),
        max(col("nc")).as("nc"))
      .filter(col("n") >= 2)
      .select(col("n").as("n_orders"),
        floor(lit(1000) * col("chi2")).cast("long").as("chi2_milli"),
        floor(lit(1000000)
          * sqrt(col("chi2") / (col("n").cast("double")
            * least(col("nr") - 1, col("nc") - 1))))
          .cast("long").as("cramers_v_micro"))
  }

  /** q297 — Gumbel extreme-value fit and return level (Gumbel 1958;
    * EVT by the method of moments): capacity planning asks not for
    * the mean day but for the 100-period worst day — block maxima
    * (monthly maxima of daily revenue) fitted to a Gumbel by
    * moments (β = σ·√6/π, μ = m − γ·β with γ = 0.5772156649…), and
    * the T-period return level μ − β·ln(−ln(1 − 1/T)) for T = 100.
    * Block maxima and their two moments are exact integers on the
    * dollars grid (the q256 discipline); the fit and return level
    * are one trailing float expression mirrored verbatim (the q246
    * contract — √, ln on IEEE doubles from identical exact
    * integers).
    *
    * Scale: daily census → monthly-max census (both calendar-
    * bounded) → one moment row. */
  val q297 = QueryDef(
    "q297_gumbel_return_level",
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      // 100 AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |bm AS (
      |  SELECT CAST(12 * year(day) + month(day) AS BIGINT) AS mon,
      |    CAST(MAX(y) AS BIGINT) AS mx
      |  FROM daily GROUP BY 1),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(mx) AS BIGINT) AS s,
      |    CAST(SUM(mx * mx) AS BIGINT) AS q
      |  FROM bm)
      |SELECT n AS n_blocks,
      |  CAST(s // n AS BIGINT) AS mean_max_dollars,
      |  CAST(FLOOR(SQRT(CAST(n * q - s * s AS DOUBLE)) / n
      |    * 0.7796968012336793) AS BIGINT) AS beta_dollars,
      |  CAST(FLOOR(CAST(s AS DOUBLE) / n
      |    - 0.5772156649015329 * (SQRT(CAST(n * q - s * s AS DOUBLE))
      |      / n * 0.7796968012336793)) AS BIGINT) AS mu_dollars,
      |  CAST(FLOOR(CAST(s AS DOUBLE) / n
      |    - 0.5772156649015329 * (SQRT(CAST(n * q - s * s AS DOUBLE))
      |      / n * 0.7796968012336793)
      |    - (SQRT(CAST(n * q - s * s AS DOUBLE)) / n
      |      * 0.7796968012336793) * LN(-LN(0.99)))
      |    AS BIGINT) AS return_level_100_dollars
      |FROM mo WHERE n >= 2 AND n * q > s * s""".stripMargin) {
    (s, d) =>
    val bm = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(expr("""sum(cast(floor(o_totalprice * 100 + 0.5)
        | as bigint)) div 100""".stripMargin).as("y"))
      .groupBy((lit(12L) * year(col("day")) + month(col("day")))
        .as("mon"))
      .agg(max(col("y")).as("mx"))
    val beta = sqrt((col("n") * col("q") - col("s") * col("s"))
      .cast("double")) / col("n") * lit(0.7796968012336793)
    bm.agg(count(lit(1)).as("n"), sum(col("mx")).as("s"),
        sum(col("mx") * col("mx")).as("q"))
      .filter(col("n") >= 2 &&
        col("n") * col("q") > col("s") * col("s"))
      .select(col("n").as("n_blocks"),
        expr("s div n").as("mean_max_dollars"),
        floor(beta).cast("long").as("beta_dollars"),
        floor(col("s").cast("double") / col("n")
          - lit(0.5772156649015329) * beta).cast("long")
          .as("mu_dollars"),
        floor(col("s").cast("double") / col("n")
          - lit(0.5772156649015329) * beta
          - beta * log(-log(lit(0.99)))).cast("long")
          .as("return_level_100_dollars"))
  }

  /** q299 — Lorenz decile table (the curve behind q163's Gini):
    * customers in spend deciles via the distributed
    * [[graft.functions.Ranks.ntileGlobal]], each decile's exact
    * revenue share and cumulative share in ppm — the "bottom 50 %
    * hold X %, top 10 % hold Y %" statement an inequality NUMBER
    * can't make. Cumulative shares ride a 10-row ordered window.
    *
    * Scale: one per-customer census + one rank-bucket pipeline +
    * a 10-row frame. */
  val q299 = QueryDef(
    "q299_lorenz_deciles",
    """WITH cs AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |dec AS (
      |  SELECT ck, x,
      |    CAST(NTILE(10) OVER (ORDER BY x, ck) AS BIGINT) AS d
      |  FROM cs),
      |g AS (
      |  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(x) AS BIGINT) AS spend
      |  FROM dec GROUP BY 1),
      |t AS (SELECT CAST(SUM(spend) AS BIGINT) AS tot FROM g)
      |SELECT g.d AS decile, g.n_customers, g.spend AS spend_cents,
      |  CAST((1000000 * g.spend) // t.tot AS BIGINT) AS share_ppm,
      |  CAST((1000000 * SUM(g.spend) OVER (ORDER BY g.d)) // t.tot
      |    AS BIGINT) AS cum_share_ppm
      |FROM g CROSS JOIN t ORDER BY decile""".stripMargin) { (s, d) =>
    val cs = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("x"))
    val dec = graft.functions.Ranks.ntileGlobal(cs, 10, col("x"),
      col("ck"), "d")
    val g = dec.groupBy(col("d"))
      .agg(count(lit(1)).as("n_customers"), sum(col("x")).as("spend"))
    val t = g.agg(sum(col("spend")).as("tot"))
    val w = Window.orderBy(col("d"))
    g.crossJoin(broadcast(t))
      .withColumn("cum", sum(col("spend")).over(w))
      .select(col("d").as("decile"), col("n_customers"),
        col("spend").as("spend_cents"),
        expr("(1000000L * spend) div tot").as("share_ppm"),
        expr("(1000000L * cum) div tot").as("cum_share_ppm"))
      .orderBy(col("decile"))
  }

  /** q300 — assortment churn (period-over-period catalog Jaccard):
    * per consecutive month pair, the Jaccard similarity of the SET
    * of parts sold — |∩|·10⁶ ÷ |∪| exact ppm — plus added/dropped
    * counts; the merchandising-stability kpi, and the set-similarity
    * machinery of the dedup family (q22/q24) applied at catalog
    * grain. The month self-join is keyed on part AND adjacent month
    * (m, m+1) — never all-pairs over months.
    *
    * Scale: one distinct (month, part) census; intersection via one
    * keyed equi-join on (part, next-month), unions by
    * inclusion-exclusion from the month censuses. */
  val q300 = QueryDef(
    "q300_assortment_churn",
    """WITH mp AS (
      |  SELECT DISTINCT CAST(12 * year(l_shipdate)
      |      + month(l_shipdate) AS BIGINT) AS m,
      |    l_partkey AS pk
      |  FROM lineitem),
      |mc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n FROM mp
      |  GROUP BY 1),
      |ix AS (
      |  SELECT a.m, CAST(COUNT(*) AS BIGINT) AS both
      |  FROM mp a JOIN mp b ON a.pk = b.pk AND b.m = a.m + 1
      |  GROUP BY 1)
      |SELECT ca.m AS month_idx, ca.n AS parts_this, cb.n AS parts_next,
      |  COALESCE(ix.both, 0) AS parts_both,
      |  CAST((1000000 * COALESCE(ix.both, 0))
      |    // (ca.n + cb.n - COALESCE(ix.both, 0)) AS BIGINT)
      |    AS jaccard_ppm,
      |  CAST(cb.n - COALESCE(ix.both, 0) AS BIGINT) AS added,
      |  CAST(ca.n - COALESCE(ix.both, 0) AS BIGINT) AS dropped
      |FROM mc ca JOIN mc cb ON cb.m = ca.m + 1
      |LEFT JOIN ix ON ix.m = ca.m
      |ORDER BY month_idx""".stripMargin) { (s, d) =>
    val mp = Tables.lineitem(s, d)
      .select((lit(12L) * year(col("l_shipdate"))
        + month(col("l_shipdate"))).as("m"),
        col("l_partkey").as("pk"))
      .distinct()
    val mc = mp.groupBy(col("m")).agg(count(lit(1)).as("n"))
    val ix = mp.as("a").join(mp.as("b"),
        col("a.pk") === col("b.pk") && col("b.m") === col("a.m") + 1)
      .groupBy(col("a.m").as("m")).agg(count(lit(1)).as("both"))
    mc.as("ca").join(mc.as("cb"), col("cb.m") === col("ca.m") + 1)
      .join(ix.as("ix"), col("ix.m") === col("ca.m"), "left")
      .select(col("ca.m").as("month_idx"),
        col("ca.n").as("parts_this"), col("cb.n").as("parts_next"),
        coalesce(col("both"), lit(0L)).as("parts_both"),
        expr("""(1000000L * coalesce(both, 0L))
          | div (ca.n + cb.n - coalesce(both, 0L))""".stripMargin)
          .as("jaccard_ppm"),
        (col("cb.n") - coalesce(col("both"), lit(0L))).as("added"),
        (col("ca.n") - coalesce(col("both"), lit(0L))).as("dropped"))
      .orderBy(col("month_idx"))
  }

  /** q322 — KENDALL τ-b rank correlation (Kendall 1938) between a
    * part's price band and its sales-frequency band, computed WITHOUT
    * the O(n²) pair scan: both variables are quantized onto declared
    * bounded grids (price: 1000-cent millibands anchored at 90000
    * cents — the TPC-H retail-price span $900–$2099 yields ~120
    * occupied bands; frequency: ⌊f/8⌋ capped at 15 — the banding IS
    * part of the statistic, stated), so every pair comparison
    * collapses onto the ≤1920-cell joint census (120 × 16) and the
    * concordant/discordant masses are Σ c_a·c_b over
    * strictly-ordered cell pairs — a broadcast self-join of the
    * bounded census (≤ ~3.7M cell pairs, constant in the data),
    * never of parts. Ties
    * (the reason τ-b over τ-a): n1/n2 from the census margins,
    * τ_b = (C−D)/√((n0−n1)(n0−n2)) with the √ as the single trailing
    * float (q292's Spearman discipline — there ranks, here pairs;
    * the two coefficients read the same monotone association through
    * different loss functions). Parts with zero sales never enter
    * (frequency is undefined for them), stated.
    *
    * Scale: one keyed count per part (map-side combinable), one
    * broadcast dim join, one ≤1920-row census — the cell-pair join
    * and every margin ride the census, so nothing downstream of the
    * per-part agg grows with the data. Headroom: C, D ≤ n(n−1)/2
    * wraps int64 only past n ≈ 4.3·10⁹ parts; the √ argument is
    * computed in double throughout (exact to 2⁵³). Degenerate
    * guard: τ-b is undefined when either variable is completely
    * tied (a zero divisor); both engines filter those out with the
    * same n₀−n₁ > 0 ∧ n₀−n₂ > 0 predicate rather than diverge on
    * CAST(inf AS BIGINT). */
  val q322 = QueryDef(
    "q322_kendall_tau",
    """WITH pc AS (
      |  SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM lineitem GROUP BY 1),
      |bv AS (
      |  SELECT
      |    CAST((CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)
      |      - 90000) // 1000 AS BIGINT) AS bx,
      |    CAST(LEAST(pc.freq // 8, 15) AS BIGINT) AS yv
      |  FROM pc JOIN part p ON p.p_partkey = pc.pk),
      |cells AS (
      |  SELECT bx, yv, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM bv GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
      |pr AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN a.bx < d.bx AND a.yv < d.yv
      |      THEN a.c * d.c ELSE 0 END) AS BIGINT) AS nc,
      |    CAST(SUM(CASE WHEN a.bx < d.bx AND a.yv > d.yv
      |      THEN a.c * d.c ELSE 0 END) AS BIGINT) AS nd
      |  FROM cells a, cells d),
      |tx AS (
      |  SELECT CAST(SUM(cx * (cx - 1) // 2) AS BIGINT) AS n1
      |  FROM (SELECT CAST(SUM(c) AS BIGINT) AS cx FROM cells
      |    GROUP BY bx)),
      |ty AS (
      |  SELECT CAST(SUM(cy * (cy - 1) // 2) AS BIGINT) AS n2
      |  FROM (SELECT CAST(SUM(c) AS BIGINT) AS cy FROM cells
      |    GROUP BY yv))
      |SELECT t.n AS n_parts, pr.nc AS concordant, pr.nd AS discordant,
      |  tx.n1 AS ties_x, ty.n2 AS ties_y,
      |  CAST(FLOOR(1000.0 * (pr.nc - pr.nd) /
      |    sqrt((CAST(t.n AS DOUBLE) * (t.n - 1) / 2 - tx.n1)
      |      * (CAST(t.n AS DOUBLE) * (t.n - 1) / 2 - ty.n2)))
      |    AS BIGINT) AS tau_b_milli
      |FROM pr CROSS JOIN tot t CROSS JOIN tx CROSS JOIN ty
      |WHERE t.n >= 2
      |  AND t.n * (t.n - 1) // 2 - tx.n1 > 0
      |  AND t.n * (t.n - 1) // 2 - ty.n2 > 0""".stripMargin) { (s, d) =>
    import graft.functions.Checkpoints
    val pc = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("freq"))
    // eager checkpoint + pin, not cache(): cells feeds FOUR broadcast
    // subtrees (pair join, total, two margins) whose jobs launch
    // concurrently — the measured q310 cache race
    val cells = Checkpoints.pin(
      pc.join(Tables.part(s, d), col("pk") === col("p_partkey"))
        .select(
          expr("(cast(floor(p_retailprice * 100 + 0.5) as bigint)" +
            " - 90000L) div 1000").as("bx"),
          expr("least(freq div 8, 15L)").as("yv"))
        .groupBy(col("bx"), col("yv")).agg(count(lit(1)).as("c"))
        .localCheckpoint())
    val tot = cells.agg(sum(col("c")).as("n"))
    val pr = cells.crossJoin(broadcast(
        cells.select(col("bx").as("dbx"), col("yv").as("dyv"),
          col("c").as("dc"))))
      .agg(
        sum(when(col("bx") < col("dbx") && col("yv") < col("dyv"),
          col("c") * col("dc")).otherwise(0L)).as("nc"),
        sum(when(col("bx") < col("dbx") && col("yv") > col("dyv"),
          col("c") * col("dc")).otherwise(0L)).as("nd"))
    val tx = cells.groupBy(col("bx")).agg(sum(col("c")).as("cx"))
      .agg(sum(expr("cx * (cx - 1L) div 2")).as("n1"))
    val ty = cells.groupBy(col("yv")).agg(sum(col("c")).as("cy"))
      .agg(sum(expr("cy * (cy - 1L) div 2")).as("n2"))
    pr.crossJoin(broadcast(tot)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .filter(col("n") >= 2)
      .filter(expr("n * (n - 1L) div 2 - n1 > 0") &&
        expr("n * (n - 1L) div 2 - n2 > 0"))
      .select(col("n").as("n_parts"), col("nc").as("concordant"),
        col("nd").as("discordant"), col("n1").as("ties_x"),
        col("n2").as("ties_y"),
        expr("cast(floor(1000.0 * (nc - nd) /" +
          " sqrt((cast(n as double) * (n - 1) / 2 - n1)" +
          " * (cast(n as double) * (n - 1) / 2 - n2))) as bigint)")
          .as("tau_b_milli"))
  }

  /** q342 — TWO-PROPORTION POWER PLANNER for the A/B harness: before
    * q214's z-test can be trusted, the experiment must be SIZED — the
    * classical per-arm requirement
    *   n = (z_{α/2} + z_β)² · 2·p̄(1−p̄) / δ²
    * (two-sided α = 5%, power 80%; z constants are DECLARED spec
    * milli constants 1960 + 842 = 2802, squared once to the micro
    * grid 7,851,204 — not computed from any erf), evaluated against
    * the pooled rate of a per-user high-value flag (floored mean
    * event value ≥ 5500 cents — SF-invariant and non-degenerate on
    * this corpus, where both "any purchase event" and q214's absolute
    * spend cut saturate at one SF or another, stated) and the REALIZED
    * arm sizes under q214's own md5 variant split, over a declared
    * MDE ladder {1%, 2.5%, 5%, 10%} absolute. Output per rung:
    * required n per arm (exact ceiling division), both realized arm
    * sizes, and the powered flag — the "can this corpus even answer
    * that question?" table read before any test statistic.
    *
    * Scale: one per-user keyed agg (map-side combinable), a one-row
    * pooled fold, a 4-row declared ladder cross — nothing downstream
    * of the first agg grows. Int64: the numerator tops out at
    * ~3.9·10¹⁸ at p̄ = ½ — inside int64 by construction at any
    * corpus size (rates, not counts). */
  val q342 = QueryDef(
    "q342_power_planning",
    s"""WITH uu AS (
      |  SELECT user_id,
      |    CASE WHEN SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
      |      // COUNT(*) >= 5500 THEN 1 ELSE 0 END AS conv
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |hv AS (
      |  SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS hx
      |  FROM (SELECT DISTINCT user_id FROM events
      |        WHERE user_id IS NOT NULL)),
      |vv AS (SELECT user_id, ${TextQueries.hexU32Sql(1)} % 2 AS variant
      |  FROM hv),
      |arms AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(SUM(conv) AS BIGINT) AS x,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM uu JOIN vv ON vv.user_id = uu.user_id),
      |p AS (SELECT n0, n1, CAST((1000000 * x) // n AS BIGINT) AS pp
      |  FROM arms WHERE n > 0),
      |ladder AS (SELECT CAST(unnest([10000, 25000, 50000, 100000])
      |  AS BIGINT) AS mde),
      |rq AS (
      |  SELECT l.mde, p.pp, p.n0, p.n1,
      |    (7851204 * 2 * p.pp * (1000000 - p.pp)
      |      + 1000000 * l.mde * l.mde - 1)
      |      // (1000000 * l.mde * l.mde) AS req
      |  FROM ladder l CROSS JOIN p)
      |SELECT CAST(mde AS BIGINT) AS mde_ppm, pp AS pool_p_ppm,
      |  CAST(req AS BIGINT) AS n_required_per_arm,
      |  n0 AS n_arm0, n1 AS n_arm1,
      |  CAST(CASE WHEN n0 >= req AND n1 >= req THEN 1 ELSE 0 END
      |    AS BIGINT) AS powered
      |FROM rq ORDER BY mde_ppm""".stripMargin) { (s, d) =>
    val uu = Tables.events(s, d).filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(when(expr("sum(cast(floor(value * 100 + 0.5) as bigint))" +
        " div count(1)") >= 5500L, 1L).otherwise(0L).as("conv"))
      .withColumn("variant",
        graft.curation.Curation.contentU32(col("user_id")) % 2L)
    val arms = uu.agg(
      sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(col("conv")).as("x"), count(lit(1)).as("n"))
    val p = arms.filter(col("n") > 0)
      .select(col("n0"), col("n1"),
        expr("(1000000L * x) div n").as("pp"))
    val ladder = s.range(1)
      .select(explode(array(lit(10000L), lit(25000L), lit(50000L),
        lit(100000L))).as("mde"))
    ladder.crossJoin(broadcast(p))
      .withColumn("req", expr(
        "(7851204L * 2 * pp * (1000000L - pp)" +
          " + 1000000L * mde * mde - 1) div (1000000L * mde * mde)"))
      .select(col("mde").as("mde_ppm"), col("pp").as("pool_p_ppm"),
        col("req").as("n_required_per_arm"),
        col("n0").as("n_arm0"), col("n1").as("n_arm1"),
        when(col("n0") >= col("req") && col("n1") >= col("req"), 1L)
          .otherwise(0L).as("powered"))
      .orderBy("mde_ppm")
  }

  /** q360 — columnar ENCODING-SELECTION census (the per-column
    * decision every Parquet/ORC writer makes — plain vs dictionary
    * vs run-length — surfaced as a query, the column-storage sibling
    * of q352's posting-list report; at 100 TB this table IS the
    * storage bill): for four declared lineitem columns, exact bit
    * costs under three declared encoding models over the clustered
    * (l_orderkey, l_linenumber) layout —
    *   plain = Σ value width (strings 8·len, int64 columns 64)
    *   dict  = rows·⌈log₂ d⌉ + Σ_{distinct} value width
    *   rle   = Σ_runs (run-value width + 32)
    * with ⌈log₂ d⌉ = bitlen(d−1) via `length(bin(...))` (the q352
    * no-float-log rule) and runs counted WITHIN each l_orderkey
    * group in the declared (l_linenumber, value) order — the value
    * tie-break makes the run count well-defined when line numbers
    * repeat (equal-key ties then share a value, so their relative
    * order cannot change any run boundary) and keeps the window
    * keyed; a global-sort run count would be a partition-less
    * window. The winner column applies the declared
    * tie order plain ≺ dict ≺ rle. Doubles and timestamps are
    * excluded by design: their string forms differ across engines,
    * and their encodings are byte-identical int64 questions anyway.
    *
    * Scale: ONE scan exploded ×4 (map-side), one keyed window, two
    * keyed censuses over 4 groups — nothing partition-less. */
  val q360 = QueryDef(
    "q360_encoding_selection",
    """WITH u AS (
      |  SELECT l_orderkey, l_linenumber, 'l_returnflag' AS cname,
      |    l_returnflag AS v, 8 * length(l_returnflag) AS pbits
      |  FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_linestatus',
      |    l_linestatus, 8 * length(l_linestatus) FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_suppkey',
      |    CAST(l_suppkey AS VARCHAR), 64 FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_partkey',
      |    CAST(l_partkey AS VARCHAR), 64 FROM lineitem),
      |r AS (
      |  SELECT cname, v, pbits,
      |    CASE WHEN LAG(v) OVER (PARTITION BY cname, l_orderkey
      |      ORDER BY l_linenumber, v) IS DISTINCT FROM v
      |      THEN 1 ELSE 0 END AS rs
      |  FROM u),
      |m AS (
      |  SELECT cname, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(pbits) AS BIGINT) AS plain_bits,
      |    CAST(SUM(rs) AS BIGINT) AS n_runs,
      |    CAST(SUM(CASE WHEN rs = 1 THEN pbits + 32 ELSE 0 END)
      |      AS BIGINT) AS rle_bits
      |  FROM r GROUP BY 1),
      |dv AS (
      |  SELECT cname, CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |    CAST(SUM(pbits) AS BIGINT) AS dict_val_bits
      |  FROM (SELECT DISTINCT cname, v, pbits FROM u) GROUP BY 1),
      |j AS (
      |  SELECT m.cname, n_rows, n_distinct, n_runs, plain_bits,
      |    CAST(n_rows * length(bin(GREATEST(1, n_distinct - 1)))
      |      + dict_val_bits AS BIGINT) AS dict_bits, rle_bits
      |  FROM m JOIN dv USING (cname))
      |SELECT cname, n_rows, n_distinct, n_runs, plain_bits, dict_bits,
      |  rle_bits,
      |  CASE WHEN plain_bits <= dict_bits AND plain_bits <= rle_bits
      |    THEN 'plain' WHEN dict_bits <= rle_bits THEN 'dict'
      |    ELSE 'rle' END AS best
      |FROM j ORDER BY cname""".stripMargin) { (s, d) =>
    val cols = Seq(("l_returnflag", true), ("l_linestatus", true),
      ("l_suppkey", false), ("l_partkey", false))
    val base = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        explode(array(cols.map { case (c, isStr) =>
          struct(lit(c).as("cname"), col(c).cast("string").as("v"),
            (if (isStr) length(col(c)).cast("long") * 8 else lit(64L))
              .as("pbits"))
        }: _*)).as("x"))
      .select(col("l_orderkey"), col("l_linenumber"), col("x.cname"),
        col("x.v"), col("x.pbits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cname"), col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("v"))
    val runs = base.withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("rs", when(col("prev").isNull ||
        col("prev") =!= col("v"), 1L).otherwise(0L))
    val main = runs.groupBy(col("cname"))
      .agg(count(lit(1)).as("n_rows"), sum(col("pbits")).as("plain_bits"),
        sum(col("rs")).as("n_runs"),
        sum(when(col("rs") === 1, col("pbits") + 32).otherwise(0L))
          .as("rle_bits"))
    val dv = base.select(col("cname"), col("v"), col("pbits")).distinct()
      .groupBy(col("cname"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("pbits")).as("dict_val_bits"))
    main.join(dv, Seq("cname"))
      .withColumn("dict_bits", col("n_rows") *
        expr("length(bin(greatest(1L, n_distinct - 1)))").cast("long")
        + col("dict_val_bits"))
      .select(col("cname"), col("n_rows"), col("n_distinct"),
        col("n_runs"), col("plain_bits"), col("dict_bits"),
        col("rle_bits"),
        when(col("plain_bits") <= col("dict_bits") &&
          col("plain_bits") <= col("rle_bits"), "plain")
          .when(col("dict_bits") <= col("rle_bits"), "dict")
          .otherwise("rle").as("best"))
      .orderBy("cname")
  }

  val all: Seq[QueryDef] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14,
    q15, q16, q17, q18, q19, q20, q21, q51, q52, q53, q54, q55, q58, q60,
    q61, q62, q63, q64, q65, q68, q69, q72, q74, q75, q78, q80, q81, q108,
    q111, q133, q182, q183, q186, q187, q188, q194, q195, q214, q215,
    q216, q217, q218, q220, q221, q222, q225, q229, q231, q233, q236,
    q237, q240, q241, q242, q243, q245, q250, q251, q252, q253, q254,
    q255, q256, q259, q260, q261, q262, q263, q264, q267, q268,
    q270, q271, q272, q274, q275, q277, q278, q279, q280, q281,
    q283, q284, q285, q286, q288, q289, q290, q291, q292, q293,
    q294, q295, q297, q299, q300, q322, q342, q360)
}
