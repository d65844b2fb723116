package graft

import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational query surface — one entry per operator family from
  * SURVEY.md §2, each with a DuckDB oracle (SparkEntry.oracleSql).
  *
  * Determinism rules (so the Spark result hash-matches the DuckDB oracle):
  *  - double sums go through DECIMAL accumulators (order-invariant, exact),
  *    then cast back to double;
  *  - any floating division is rounded to 6 decimals in BOTH engines;
  *  - every query ends with a total ORDER BY (mirrored in the SQL);
  *  - ties in rankings are broken by a unique key.
  */
object Queries {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def dec(c: Column, scale: Int = 2): Column =
    c.cast(s"decimal(28,$scale)")
  private def d(c: Column): Column = c.cast("double")
  /** DuckDB's `ROUND(v, 6)` on a double, `round(v * 1e6) / 1e6` with ties
    * away from zero. Spark's `round(v, 6)` rounds the double's shortest
    * decimal string instead, so the two split on near-ties: 55.644687499999996
    * is .687 in Spark but .688 in DuckDB, whose product v * 1e6 rounds to
    * the tie. The queries in this file use it wherever their oracle rounds
    * a double with `ROUND(…, 6)`. */
  private def round6(c: Column): Column = round(c * 1e6, 0) / 1e6

  // ------------------------------------------------------------------ scans

  /** Projection + filter with parquet pushdown (SURVEY §2.2). */
  def qScanFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .filter(col("l_returnflag") === "R" && col("l_quantity") >= 45)
      .orderBy("l_orderkey", "l_linenumber")

  val qScanFilterSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------- aggs

  /** TPC-H Q1-shaped groupBy aggregation (SURVEY §2.4 groupby_agg). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        d(sum(dec(col("l_quantity")))).as("sum_qty"),
        d(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        d(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** NaN-budget grouped aggregation (groupby_agg num_allowed_nans,
    * dataframes.py:310-482) — nulls synthesized via NULLIF. */
  def qGroupbyNanBudget(spark: SparkSession, dir: String): DataFrame = {
    val withNulls = t(spark, dir, "lineitem")
      .withColumn("v", dec(nullif(col("l_tax"), lit(0.0))))
    GroupOps
      .groupbyAgg(withNulls, Seq("l_returnflag"), Seq("v"), "sum",
        GroupOps.NanBudget(numAllowedNans = Some(4000)))
      .withColumn("v", d(col("v")))
      .withColumnRenamed("v", "tax_sum")
      .orderBy("l_returnflag")
  }

  val qGroupbyNanBudgetSql: String =
    """SELECT l_returnflag,
      |  CASE WHEN COUNT(*) - COUNT(v) > 4000 THEN NULL
      |       ELSE CAST(SUM(v) AS DOUBLE) END AS tax_sum
      |FROM (SELECT l_returnflag, CAST(NULLIF(l_tax, 0.0) AS DECIMAL(28,2)) AS v FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Weighted mean Σ(v·w)/Σ(w) (dataframes.py:278-307). */
  def qWeightedMean(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round6(
          d(sum(dec(col("l_extendedprice") * col("l_quantity"), 4))) /
            d(sum(dec(col("l_quantity"))))).as("wmean_price"))
      .orderBy("l_returnflag")

  val qWeightedMeanSql: String =
    """SELECT l_returnflag,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) AS DOUBLE)
      |        / CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE), 6) AS wmean_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact distinct counting (SURVEY §2.4). */
  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("c_nationkey")).as("n_nations"),
        count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")

  val qDistinctSql: String =
    """SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations,
      |  COUNT(*) AS n_customers
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------ joins

  /** 3-way join, small dims broadcast (SURVEY §2.3 lookup joins). */
  def qJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"),
        d(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy("n_name")
  }

  val qJoinAggSql: String =
    """SELECT n_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** pandas-semantics merge with suffixes (tables.py:2084-2189): same value
    * column on both sides gets _x/_y. */
  def qMergeSuffixes(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .select(col("c_nationkey").as("nationkey"),
        col("c_acctbal").as("acctbal"), col("c_custkey"))
      .groupBy("nationkey")
      .agg(d(sum(dec(col("acctbal")))).as("acctbal"))
    val s = t(spark, dir, "supplier")
      .select(col("s_nationkey").as("nationkey"),
        col("s_acctbal").as("acctbal"))
      .groupBy("nationkey")
      .agg(d(sum(dec(col("acctbal")))).as("acctbal"))
    TableOps
      .merge(c, s, "outer", Seq("nationkey"))
      .orderBy("nationkey")
  }

  val qMergeSuffixesSql: String =
    """WITH c AS (SELECT c_nationkey AS nationkey,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS acctbal_x
      |  FROM customer GROUP BY 1),
      |s AS (SELECT s_nationkey AS nationkey,
      |    CAST(SUM(CAST(s_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS acctbal_y
      |  FROM supplier GROUP BY 1)
      |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, acctbal_x, acctbal_y
      |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  /** Semi join — EXISTS (SURVEY §2.3). */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val big = t(spark, dir, "lineitem").filter(col("l_quantity") >= 49)
      .select(col("l_orderkey").as("o_orderkey"))
    o.join(big, Seq("o_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val qSemiJoinSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
      |ORDER BY o_orderkey""".stripMargin

  /** Anti join — NOT EXISTS (ghost-cleanup pattern, to_db.py:416). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 250000)
      .select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
      |ORDER BY c_custkey""".stripMargin

  /** multi_merge fold of 3 tables on shared keys (tables.py:2907). */
  def qMultiMerge(spark: SparkSession, dir: String): DataFrame = {
    val n = t(spark, dir, "nation")
      .select(col("n_nationkey").as("nationkey"), col("n_name"), col("n_regionkey"))
    val c = t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val s = t(spark, dir, "supplier")
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    TableOps.multiMerge(Seq(n, c, s), Seq("nationkey"), "left")
      .orderBy("nationkey")
  }

  val qMultiMergeSql: String =
    """SELECT n_nationkey AS nationkey, n_name, n_regionkey, c.n_customers, s.n_suppliers
      |FROM nation
      |LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
      |  ON n_nationkey = c.c_nationkey
      |LEFT JOIN (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |  ON n_nationkey = s.s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Outer join + priority coalesce (combine_two_overlapping_dataframes,
    * dataframes.py:775-877). */
  def qCombineOverlapping(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("cnt"))
    val b = t(spark, dir, "customer")
      .groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("cnt"))
    TableOps.combineTwoOverlapping(a, b, Seq("k")).orderBy("k")
  }

  val qCombineOverlappingSql: String =
    """WITH a AS (SELECT c_nationkey AS k, COUNT(*) AS cnt FROM customer
      |  WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
      |b AS (SELECT c_nationkey AS k, COUNT(*) AS cnt FROM customer GROUP BY 1)
      |SELECT COALESCE(a.k, b.k) AS k, COALESCE(a.cnt, b.cnt) AS cnt
      |FROM a FULL OUTER JOIN b ON a.k = b.k ORDER BY k""".stripMargin

  // --------------------------------------------------------------- set ops

  /** unionByName with schema union (concat axis=0, tables.py:2192-2263). */
  def qConcat(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "lineitem").filter(col("l_returnflag") === "A")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val b = t(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"))
    TableOps.concat(Seq(a, b)).orderBy("l_orderkey", "l_linenumber")
  }

  val qConcatSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, CAST(NULL AS DOUBLE) AS l_discount
      |FROM lineitem WHERE l_returnflag = 'A'
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, CAST(NULL AS DOUBLE), l_discount
      |FROM lineitem WHERE l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Region roll-up with replace-region upsert semantics (geo.py:268-533):
    * per-nation customer counts + region totals appended. */
  def qRegionRollup(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    val members = nation
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("member"))
    val perNation = t(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("entity"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("cnt", col("cnt").cast("double"))
    GroupOps
      .addRegionAggregates(perNation, "entity", Nil, Seq("cnt"), members)
      .withColumn("cnt", col("cnt").cast("long"))
      .orderBy("entity")
  }

  val qRegionRollupSql: String =
    """WITH per_nation AS (
      |  SELECT n_name AS entity, n_regionkey, COUNT(*) AS cnt
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, n_regionkey)
      |SELECT entity, cnt FROM per_nation
      |UNION ALL
      |-- DuckDB widens SUM(BIGINT) to HUGEINT and UNION ALL then widens the
      |-- whole column; CAST back so the type-sensitive gate hash matches.
      |SELECT r_name AS entity, CAST(SUM(cnt) AS BIGINT) AS cnt
      |FROM per_nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name
      |ORDER BY entity""".stripMargin

  /** Region roll-up with a per-column aggregation dict AND a NaN budget —
    * the full `add_region_aggregates` surface (geo.py:275-349:
    * `aggregations` + `num_allowed_nans_per_year`): cnt is summed, v is
    * averaged, and a region×segment group whose members carry more than one
    * NULL v gets v nulled. */
  def qRegionBudget(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    val members = nation
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("member"))
    val perNation = t(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("entity"), col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"))
      .select(col("entity"), col("seg"),
        col("n").cast("double").as("cnt"),
        // planted deterministic nulls: every third count is missing
        when(col("n") % 3 === 0, lit(null))
          .otherwise(col("n").cast("double")).as("v"))
    GroupOps
      .addRegionAggregates(perNation, "entity", Seq("seg"), Seq("cnt", "v"),
        members,
        aggregations = Map("cnt" -> "sum", "v" -> "mean"),
        budget = GroupOps.NanBudget(numAllowedNans = Some(1)))
      .select(col("entity"), col("seg"), col("cnt").cast("long").as("cnt"),
        round6(col("v")).as("v_mean"))
      .orderBy("entity", "seg")
  }

  val qRegionBudgetSql: String =
    """WITH per_nation AS (
      |  SELECT n_name AS entity, n_regionkey, c_mktsegment AS seg, COUNT(*) AS n
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, n_regionkey, c_mktsegment),
      |pn AS (
      |  SELECT entity, n_regionkey, seg, CAST(n AS DOUBLE) AS cnt,
      |    CASE WHEN n % 3 = 0 THEN NULL ELSE CAST(n AS DOUBLE) END AS v
      |  FROM per_nation)
      |SELECT entity, seg, CAST(cnt AS BIGINT) AS cnt, ROUND(v, 6) AS v_mean
      |FROM pn
      |UNION ALL
      |SELECT r_name AS entity, seg, CAST(SUM(cnt) AS BIGINT) AS cnt,
      |  CASE WHEN COUNT(*) - COUNT(v) > 1 THEN NULL
      |       ELSE ROUND(AVG(v), 6) END AS v_mean
      |FROM pn JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, seg
      |ORDER BY entity, seg""".stripMargin

  // ---------------------------------------------------------------- windows

  /** LWW dedup via max_by aggregation — the merge-apply core
    * (drop_duplicates/LWW, SURVEY §2.2). */
  def qLwwLatest(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("e"))
      .select(col("user_id"), col("e.event_id").as("event_id"),
        col("e.ts").as("ts"), col("e.event_type").as("event_type"),
        col("e.value").as("value"))
      .orderBy("user_id")

  val qLwwLatestSql: String =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Rolling 7-row mean with min_periods=4 (TableRolling, tables.py:2013). */
  def qRolling(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-6, 0)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        when(count(col("value")).over(w) >= 4,
          round6(d(sum(dec(col("value"))).over(w)) / count(col("value")).over(w)))
          .as("rolling7"))
      .orderBy("event_id")
  }

  val qRollingSql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN COUNT(value) OVER w >= 4
      |    THEN ROUND(CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER w AS DOUBLE)
      |               / COUNT(value) OVER w, 6) END AS rolling7
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** pct_change via lag (indicators.py:400). */
  def qPctChange(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        // NULLIF guards zero baselines (ANSI division-by-zero; DuckDB
        // would yield inf — NULL in both engines instead). floor-based
        // fixed-point instead of round(): ratios of 2-decimal inputs can
        // land exactly on a 6-decimal half, where HALF_UP (Spark) and
        // DuckDB rounding disagree; floor has no tie to break.
        (floor((col("value") / nullif(lag(col("value"), 1).over(w), lit(0.0)) - 1)
          * 1e6) / 1e6).as("pct"))
      .orderBy("event_id")
  }

  val qPctChangeSql: String =
    """SELECT event_id, user_id,
      |  FLOOR((value / NULLIF(LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0) - 1) * 1e6) / 1e6 AS pct
      |FROM events ORDER BY event_id""".stripMargin

  /** Cumulative sum per entity (running totals, SURVEY §2.5). */
  def qCumsum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        d(sum(dec(col("value"))).over(w)).as("running"))
      .orderBy("event_id")
  }

  val qCumsumSql: String =
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2)))
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
      |FROM events ORDER BY event_id""".stripMargin

  /** Forward fill within group (groupby().ffill(), cases_deaths.py:66). */
  def qFfill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    t(spark, dir, "events")
      .withColumn("v", nullif(col("event_type"), lit("view")))
      .select(col("event_id"), col("user_id"),
        last(col("v"), ignoreNulls = true).over(w).as("filled"))
      .orderBy("event_id")
  }

  val qFfillSql: String =
    """SELECT event_id, user_id,
      |  LAST_VALUE(NULLIF(event_type, 'view') IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events ORDER BY event_id""".stripMargin

  /** Linear interpolation of interior gaps (interpolate_table,
    * misc.py:77-124) — value nulled on a deterministic subset, then
    * reconstructed from the prev/next known points on the event_id axis. */
  def qInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "events")
      .withColumn("v", when(pmod(col("event_id"), lit(3)) === 0, col("value")))
      .select("event_id", "user_id", "v")
    WindowOps
      .interpolate(base, Seq("user_id"), "event_id", "v",
        limitArea = Some("inside"))
      .withColumn("v", round6(col("v")))
      .orderBy("event_id")
  }

  val qInterpolateSql: String =
    """WITH base AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_id % 3 = 0 THEN value END AS v FROM events)
      |SELECT event_id, user_id,
      |  ROUND(CASE WHEN v IS NOT NULL THEN v
      |    WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
      |      prev_v + (next_v - prev_v) * (event_id - prev_t) / (next_t - prev_t)
      |    END, 6) AS v
      |FROM (
      |  SELECT event_id, user_id, v,
      |    LAST_VALUE(v IGNORE NULLS) OVER wp AS prev_v,
      |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS) OVER wp AS prev_t,
      |    FIRST_VALUE(v IGNORE NULLS) OVER wn AS next_v,
      |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS) OVER wn AS next_t
      |  FROM base
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wn AS (PARTITION BY user_id ORDER BY event_id
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |ORDER BY event_id""".stripMargin

  /** Time densification per entity (expand_time_column, misc.py:127-376):
    * sequence+explode+left join, no cross product. */
  def qExpandTime(spark: SparkSession, dir: String): DataFrame = {
    val perYear = t(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"),
        year(col("o_orderdate")).as("yr"), col("o_totalprice"))
      .groupBy("custkey", "yr")
      .agg(count(lit(1)).as("n"))
      .filter(col("custkey") <= 200)
    WindowOps.expandTimeColumn(perYear, Seq("custkey"), "yr")
      .orderBy("custkey", "yr")
  }

  val qExpandTimeSql: String =
    """WITH per_year AS (
      |  SELECT o_custkey AS custkey, DATE_PART('year', o_orderdate) AS yr, COUNT(*) AS n
      |  FROM orders WHERE o_custkey <= 200 GROUP BY 1, 2),
      |spine AS (
      |  SELECT custkey, UNNEST(GENERATE_SERIES(MIN(yr), MAX(yr))) AS yr
      |  FROM per_year GROUP BY custkey)
      |SELECT spine.custkey, spine.yr, per_year.n
      |FROM spine LEFT JOIN per_year USING (custkey, yr)
      |ORDER BY custkey, yr""".stripMargin

  /** Range explode with value scaling (explode_rows_by_time_range,
    * misc.py:379-436). */
  def qExplodeRange(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "orders")
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y0"),
        (year(col("o_orderdate")) + pmod(col("o_orderkey"), lit(3)).cast("int") + 1).as("y1"),
        col("o_totalprice"))
    WindowOps
      .explodeByTimeRange(base, "y0", "y1", "yr", Seq("o_totalprice"), scale = true)
      .withColumn("o_totalprice", round6(col("o_totalprice")))
      .orderBy("o_orderkey", "yr")
  }

  val qExplodeRangeSql: String =
    """SELECT o_orderkey,
      |  ROUND(o_totalprice / (y1 - y0), 6) AS o_totalprice,
      |  UNNEST(GENERATE_SERIES(y0, y1 - 1)) AS yr
      |FROM (SELECT o_orderkey, DATE_PART('year', o_orderdate) AS y0,
      |        DATE_PART('year', o_orderdate) + o_orderkey % 3 + 1 AS y1, o_totalprice
      |      FROM orders WHERE o_orderkey <= 2000)
      |ORDER BY o_orderkey, yr""".stripMargin

  // ---------------------------------------------------------------- reshape

  /** melt / unpivot (tables.py:2266-2325). */
  def qMelt(spark: SparkSession, dir: String): DataFrame =
    Reshape
      .melt(
        t(spark, dir, "lineitem").filter(col("l_orderkey") <= 1000),
        idVars = Seq("l_orderkey", "l_linenumber"),
        valueVars = Seq("l_quantity", "l_discount", "l_tax"))
      .orderBy("l_orderkey", "l_linenumber", "variable")

  val qMeltSql: String =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, l_quantity AS value
      |FROM lineitem WHERE l_orderkey <= 1000
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |FROM lineitem WHERE l_orderkey <= 1000
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
      |FROM lineitem WHERE l_orderkey <= 1000
      |ORDER BY l_orderkey, l_linenumber, variable""".stripMargin

  /** pivot long→wide (tables.py:2341-2414) with explicit values. */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val p = t(spark, dir, "customer")
      .groupBy("c_nationkey")
      .pivot("c_mktsegment", segs)
      .agg(count(lit(1)))
    segs.foldLeft(p)((df, s) =>
        df.withColumn(s, coalesce(col(s), lit(0L)))
          .withColumnRenamed(s, s.toLowerCase))
      .orderBy("c_nationkey")
  }

  val qPivotSql: String =
    """SELECT c_nationkey,
      |  COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS automobile,
      |  COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS building,
      |  COUNT(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS furniture,
      |  COUNT(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS household,
      |  COUNT(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS machinery
      |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** grapher long→wide fan-out with var__dim naming
    * (long_to_wide, grapher/helpers.py:164-255). */
  def qLongToWide(spark: SparkSession, dir: String): DataFrame = {
    val long = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        dec(col("value")).as("value"))
      .groupBy("user_id", "event_type")
      .agg(d(sum(col("value"))).as("value"))
    Reshape
      .longToWide(long, Seq("user_id"), Seq("event_type"), "value",
        Seq(Seq("click", "view", "purchase", "error", "signup")))
      .orderBy("user_id")
  }

  val qLongToWideSql: String =
    """SELECT user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS value__click,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS value__view,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS value__purchase,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS value__error,
      |  CAST(SUM(CAST(value AS DECIMAL(28,2))) FILTER (WHERE event_type = 'signup') AS DOUBLE) AS value__signup
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Grapher publish long fan-out (GrapherStep.run's data shape,
    * steps/__init__.py:999-1129 + helpers.py:31-123): a garden-style table
    * (country, year, segment dim, two value columns) melted ONCE with
    * per-row short-name resolution `col__segment_value` through the
    * bounded literal map — the single-write publish path, oracle-checked
    * against an explicit UNION ALL unpivot. */
  def qGrapherPublish(spark: SparkSession, dir: String): DataFrame = {
    import graft.meta.MetaTable
    import graft.model.TableMeta
    import graft.ops.Grapher
    val garden = t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("country"),
        (col("c_custkey") % 3 + 2020).cast("int").as("year"),
        col("c_mktsegment").as("segment"))
      .agg(
        d(sum(dec(col("c_acctbal")))).as("balance"),
        count(lit(1)).as("customers"))
    val entityCols = Seq("country", "year")
    val dimCols = Seq("segment")
    val valueCols = Seq("balance", "customers")
    val entries = Grapher.yieldWideEntries(
      MetaTable(garden, TableMeta("garden")), entityCols, dimCols, valueCols)
    Grapher.publishLong(garden, entries, entityCols, dimCols, valueCols)
      .orderBy("variable", "country", "year")
  }

  val qGrapherPublishSql: String =
    """WITH garden AS (
      |  SELECT n_name AS country,
      |    CAST(c_custkey % 3 + 2020 AS INT) AS year,
      |    c_mktsegment AS segment,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS balance,
      |    COUNT(*) AS customers
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3
      |), long AS (
      |  SELECT country, year,
      |    'balance__segment_' || lower(segment) AS variable,
      |    balance AS value
      |  FROM garden WHERE balance IS NOT NULL
      |  UNION ALL
      |  SELECT country, year,
      |    'customers__segment_' || lower(segment) AS variable,
      |    CAST(customers AS DOUBLE) AS value
      |  FROM garden WHERE customers IS NOT NULL
      |)
      |SELECT country, year, variable, value FROM long
      |ORDER BY variable, country, year""".stripMargin

  // ------------------------------------------------------- scalar functions

  /** String/date/math scalar surface (SURVEY §2.8). */
  def qScalarFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_partkey") <= 2000)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_name")).as("name_len"),
        concat_ws("-", col("p_brand"), col("p_size").cast("string")).as("brand_size"),
        round6(pow(col("p_retailprice"), 0.5)).as("price_sqrt"),
        round6(log(col("p_retailprice") + 1.0)).as("price_log"),
        pmod(col("p_partkey"), lit(7)).as("mod7"))
      .orderBy("p_partkey")

  val qScalarFuncsSql: String =
    """SELECT p_partkey, LOWER(p_name) AS name_lower,
      |  SUBSTRING(p_type, 1, 5) AS type_prefix, LENGTH(p_name) AS name_len,
      |  p_brand || '-' || CAST(p_size AS VARCHAR) AS brand_size,
      |  ROUND(POW(p_retailprice, 0.5), 6) AS price_sqrt,
      |  ROUND(LN(p_retailprice + 1.0), 6) AS price_log,
      |  p_partkey % 7 AS mod7
      |FROM part WHERE p_partkey <= 2000 ORDER BY p_partkey""".stripMargin

  /** Date functions incl. days-since-zeroDay (grapher adapt,
    * helpers.py:618-689). */
  def qDateFuncs(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "orders").filter(col("o_orderkey") <= 2000)
    // Global minimum as a 1-row broadcast crossJoin, NOT an unpartitioned
    // window (which would collapse the table to a single partition at scale).
    val zero = base.agg(min(col("o_orderdate")).as("_zero_day"))
    base
      .crossJoin(broadcast(zero))
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        datediff(col("o_orderdate"), col("_zero_day")).as("days_since_zeroday"))
      .orderBy("o_orderkey")
  }

  val qDateFuncsSql: String =
    """SELECT o_orderkey, DATE_PART('year', o_orderdate) AS yr,
      |  DATE_PART('month', o_orderdate) AS mo,
      |  DATE_PART('day', o_orderdate) AS dom,
      |  DATE_DIFF('day', MIN(o_orderdate) OVER (), o_orderdate) AS days_since_zeroday
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  /** Regex extraction from JSON-ish strings (SURVEY §2.8 json). */
  def qRegexExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"),
        regexp_extract(col("props"), "[0-9]+", 0).cast("long").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .orderBy("k")

  val qRegexExtractSql: String =
    """SELECT CAST(REGEXP_EXTRACT(props, '[0-9]+') AS BIGINT) AS k, COUNT(*) AS n
      |FROM events GROUP BY k ORDER BY k""".stripMargin

  /** Dict-mapping with passthrough (map_series, dataframes.py:542-668). */
  def qMapColumn(spark: SparkSession, dir: String): DataFrame = {
    val mapping = Map(
      "UNITED STATES" -> "USA", "UNITED KINGDOM" -> "UK", "GERMANY" -> "DEU")
    TableOps
      .mapColumn(t(spark, dir, "nation").select("n_nationkey", "n_name"),
        "n_name", mapping)
      .orderBy("n_nationkey")
  }

  val qMapColumnSql: String =
    """SELECT n_nationkey,
      |  CASE n_name WHEN 'UNITED STATES' THEN 'USA'
      |    WHEN 'UNITED KINGDOM' THEN 'UK'
      |    WHEN 'GERMANY' THEN 'DEU' ELSE n_name END AS n_name
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** Data corrections: null (entity, since, metric) triples
    * (data_corrections.py pattern). */
  def qCorrections(spark: SparkSession, dir: String): DataFrame =
    TableOps
      .applyCorrections(
        t(spark, dir, "orders").filter(col("o_orderkey") <= 2000)
          .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"),
        "o_orderstatus", "o_orderdate",
        Seq(("F", java.sql.Timestamp.valueOf("1995-06-01 00:00:00"), "o_totalprice")))
      .orderBy("o_orderkey")

  val qCorrectionsSql: String =
    """SELECT o_orderkey, o_orderstatus, o_orderdate,
      |  CASE WHEN o_orderstatus = 'F' AND o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
      |       THEN NULL ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  /** Country harmonization (harmonize_countries, geo.py:536-628): mapping
    * rename + excluded-list drop, unmapped names pass through. */
  def qHarmonize(spark: SparkSession, dir: String): DataFrame = {
    val mapping = Map(
      "UNITED STATES" -> "United States",
      "UNITED KINGDOM" -> "United Kingdom",
      "GERMANY" -> "Germany",
      "ATLANTIS" -> "Atlantis") // unused mapping (reference warns, keeps)
    Geo.harmonizeCountries(
        t(spark, dir, "nation").select(col("n_nationkey"), col("n_name").as("country")),
        mapping, excluded = Seq("FRANCE"), countryCol = "country")
      .orderBy("n_nationkey")
  }

  val qHarmonizeSql: String =
    """SELECT n_nationkey,
      |  CASE n_name WHEN 'UNITED STATES' THEN 'United States'
      |    WHEN 'UNITED KINGDOM' THEN 'United Kingdom'
      |    WHEN 'GERMANY' THEN 'Germany' ELSE n_name END AS country
      |FROM nation WHERE n_name <> 'FRANCE'
      |ORDER BY n_nationkey""".stripMargin

  /** expand_time_column method="full_range" + zero-fill (misc.py:263-283,
    * 338-368): every entity × the GLOBAL year range, gaps zero-filled. */
  def qExpandFullRange(spark: SparkSession, dir: String): DataFrame = {
    val perYear = t(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"),
        year(col("o_orderdate")).as("yr"))
      .filter(col("custkey") <= 100)
      .groupBy("custkey", "yr")
      .agg(count(lit(1)).as("n"))
    WindowOps.expandTimeColumn(perYear, Seq("custkey"), "yr",
        method = "full_range", fillna = Seq("zero"))
      .orderBy("custkey", "yr")
  }

  val qExpandFullRangeSql: String =
    """WITH per_year AS (
      |  SELECT o_custkey AS custkey, DATE_PART('year', o_orderdate) AS yr, COUNT(*) AS n
      |  FROM orders WHERE o_custkey <= 100 GROUP BY 1, 2),
      |bounds AS (SELECT MIN(yr) AS y0, MAX(yr) AS y1 FROM per_year),
      |spine AS (
      |  SELECT custkey, yr
      |  FROM (SELECT DISTINCT custkey FROM per_year),
      |       (SELECT UNNEST(GENERATE_SERIES(y0, y1)) AS yr FROM bounds))
      |SELECT spine.custkey, spine.yr, COALESCE(per_year.n, 0) AS n
      |FROM spine LEFT JOIN per_year USING (custkey, yr)
      |ORDER BY custkey, yr""".stripMargin

  /** expand_time_column until_time + ffill (misc.py:286-335): extend each
    * entity forward to a fixed year, forward-filling the new rows. */
  def qExpandUntil(spark: SparkSession, dir: String): DataFrame = {
    val perYear = t(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"),
        year(col("o_orderdate")).as("yr"))
      .filter(col("custkey") <= 100)
      .groupBy("custkey", "yr")
      .agg(count(lit(1)).as("n"))
    WindowOps.expandTimeColumn(perYear, Seq("custkey"), "yr",
        method = "full_range_entity", untilTime = Some(2001),
        fillna = Seq("ffill"))
      .orderBy("custkey", "yr")
  }

  val qExpandUntilSql: String =
    """WITH per_year AS (
      |  SELECT o_custkey AS custkey, DATE_PART('year', o_orderdate) AS yr, COUNT(*) AS n
      |  FROM orders WHERE o_custkey <= 100 GROUP BY 1, 2),
      |spine AS (
      |  SELECT custkey, UNNEST(GENERATE_SERIES(MIN(yr), GREATEST(MAX(yr), 2001))) AS yr
      |  FROM per_year GROUP BY custkey)
      |SELECT custkey, yr,
      |  LAST_VALUE(n IGNORE NULLS) OVER (PARTITION BY custkey ORDER BY yr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      |FROM (SELECT spine.custkey, spine.yr, per_year.n
      |      FROM spine LEFT JOIN per_year USING (custkey, yr))
      |ORDER BY custkey, yr""".stripMargin

  /** interpolate with limit_direction="both", limit_area=None (pandas
    * endpoint clamping — misc.py:77-124 defaults). */
  def qInterpolateClamp(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "events")
      .withColumn("v", when(pmod(col("event_id"), lit(3)) === 0, col("value")))
      .select("event_id", "user_id", "v")
    WindowOps
      .interpolate(base, Seq("user_id"), "event_id", "v")
      .withColumn("v", round6(col("v")))
      .orderBy("event_id")
  }

  val qInterpolateClampSql: String =
    """WITH base AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_id % 3 = 0 THEN value END AS v FROM events)
      |SELECT event_id, user_id,
      |  ROUND(CASE WHEN v IS NOT NULL THEN v
      |    WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
      |      prev_v + (next_v - prev_v) * (event_id - prev_t) / (next_t - prev_t)
      |    WHEN prev_v IS NOT NULL THEN prev_v
      |    WHEN next_v IS NOT NULL THEN next_v
      |    END, 6) AS v
      |FROM (
      |  SELECT event_id, user_id, v,
      |    LAST_VALUE(v IGNORE NULLS) OVER wp AS prev_v,
      |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS) OVER wp AS prev_t,
      |    FIRST_VALUE(v IGNORE NULLS) OVER wn AS next_v,
      |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS) OVER wn AS next_t
      |  FROM base
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wn AS (PARTITION BY user_id ORDER BY event_id
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |ORDER BY event_id""".stripMargin

  /** Per-column aggregation map (groupby_agg dict, dataframes.py:310-482):
    * different agg per value column, one shuffle. */
  def qGroupbyAggMap(spark: SparkSession, dir: String): DataFrame =
    GroupOps.groupbyAggMap(
        t(spark, dir, "lineitem")
          .select(col("l_returnflag"), dec(col("l_quantity")).as("q"),
            col("l_extendedprice").as("p"), col("l_orderkey").as("k")),
        Seq("l_returnflag"),
        Map("q" -> "sum", "p" -> "max", "k" -> "count_distinct"))
      .withColumn("q", d(col("q")))
      .orderBy("l_returnflag")

  val qGroupbyAggMapSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS q,
      |  MAX(l_extendedprice) AS p,
      |  COUNT(DISTINCT l_orderkey) AS k
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Horizontal concat on pk — concat(axis=1) (tables.py:2236-2246). */
  def qConcatAxis1(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "customer").groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("n_customers"))
    val b = t(spark, dir, "supplier").groupBy(col("s_nationkey").as("k"))
      .agg(count(lit(1)).as("n_suppliers"))
    TableOps.concatHorizontal(Seq(a, b), Seq("k")).orderBy("k")
  }

  val qConcatAxis1Sql: String =
    """WITH a AS (SELECT c_nationkey AS k, COUNT(*) AS n_customers FROM customer GROUP BY 1),
      |b AS (SELECT s_nationkey AS k, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
      |SELECT COALESCE(a.k, b.k) AS k, n_customers, n_suppliers
      |FROM a FULL OUTER JOIN b ON a.k = b.k ORDER BY k""".stripMargin

  /** Row-wise sum/prod across columns (Table.sum/prod axis=1). */
  def qRowTotal(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") <= 1000)
      .select(col("l_orderkey"), col("l_linenumber"),
        TableOps.rowSum(Seq("l_quantity", "l_discount", "l_tax"), "total"),
        round6(TableOps.rowProd(Seq("l_quantity", "l_tax"), "prod2")).as("prod2"))
      .orderBy("l_orderkey", "l_linenumber")

  val qRowTotalSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_quantity + l_discount + l_tax AS total,
      |  ROUND(l_quantity * l_tax, 6) AS prod2
      |FROM lineitem WHERE l_orderkey <= 1000
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Doubling time over an n-period lag (cases_deaths.py:223-262). */
  def qDoublingTime(spark: SparkSession, dir: String): DataFrame =
    WindowOps.doublingTime(
        t(spark, dir, "events")
          .select(col("event_id"), col("user_id"),
            (col("value") + 1.0).as("v")), // strictly positive series
        Seq("user_id"), "event_id", "v", periods = 2)
      .withColumn("v_doubling", floor(col("v_doubling") * 1e6) / 1e6)
      .orderBy("event_id")

  // LN(1 + (v/lag - 1)) spelled exactly as Spark computes it (not LN(v/lag))
  // so both engines hit identical floating-point intermediates
  val qDoublingTimeSql: String =
    """SELECT event_id, user_id, v,
      |  FLOOR(CASE WHEN v / LAG(v, 2) OVER w - 1 > 0
      |    THEN 2 * LN(2) / LN(1 + (v / LAG(v, 2) OVER w - 1)) * 1e6 END) / 1e6 AS v_doubling
      |FROM (SELECT event_id, user_id, value + 1.0 AS v FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |ORDER BY event_id""".stripMargin

  /** datadiff keyed row compare (datadiff.py:755-1237 / compare_tables
    * misc.py:484-663): one full-outer join + tolerance classify. */
  def qDatadiff(spark: SparkSession, dir: String): DataFrame = {
    val oldT = t(spark, dir, "customer")
      .filter(col("c_nationkey") < 20)
      .groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("n"))
    val newT = t(spark, dir, "customer")
      .filter(col("c_acctbal") > 0 && col("c_nationkey") >= 5)
      .groupBy(col("c_nationkey").as("k"))
      .agg(count(lit(1)).as("n"))
    Diff.rowDiff(oldT, newT, Seq("k"))
      .select(col("k"), col("_status").as("status"),
        size(col("_changed_cols")).as("n_changed"))
      .orderBy("k")
  }

  val qDatadiffSql: String =
    """WITH o AS (SELECT c_nationkey AS k, COUNT(*) AS n FROM customer
      |           WHERE c_nationkey < 20 GROUP BY 1),
      |n2 AS (SELECT c_nationkey AS k, COUNT(*) AS n FROM customer
      |       WHERE c_acctbal > 0 AND c_nationkey >= 5 GROUP BY 1),
      |j AS (SELECT COALESCE(o.k, n2.k) AS k, o.n AS a, n2.n AS b,
      |        o.k IS NOT NULL AS in_old, n2.k IS NOT NULL AS in_new
      |      FROM o FULL OUTER JOIN n2 ON o.k = n2.k),
      |c AS (SELECT *,
      |        CASE WHEN (a IS NULL AND b IS NULL)
      |               OR (a IS NOT NULL AND b IS NOT NULL
      |                   AND ABS(a - b) <= 1e-8 + 1e-8 * ABS(b))
      |             THEN 0 ELSE 1 END AS n_changed
      |      FROM j)
      |SELECT k,
      |  CASE WHEN NOT in_new THEN 'only_in_old'
      |       WHEN NOT in_old THEN 'only_in_new'
      |       WHEN n_changed > 0 THEN 'changed' ELSE 'equal' END AS status,
      |  n_changed
      |FROM c ORDER BY k""".stripMargin

  /** groupby().transform('sum') — the group aggregate broadcast back to
    * member rows (TableGroupBy wrapper, tables.py:1869-1971). */
  def qGroupTransform(spark: SparkSession, dir: String): DataFrame =
    GroupOps.groupTransform(
        t(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            dec(col("c_acctbal")).as("bal")),
        Seq("c_nationkey"), "bal", "sum")
      .select(col("c_custkey"), col("c_nationkey"),
        d(col("bal")).as("bal"), d(col("bal_sum")).as("bal_sum"))
      .orderBy("c_custkey")

  val qGroupTransformSql: String =
    """SELECT c_custkey, c_nationkey,
      |  CAST(CAST(c_acctbal AS DECIMAL(28,2)) AS DOUBLE) AS bal,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2)))
      |    OVER (PARTITION BY c_nationkey) AS DOUBLE) AS bal_sum
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Deterministic top-k (SURVEY §2.6). */
  def qTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .limit(20)

  val qTopKSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  // -------------------------------------------------------------- registry

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q_scan_filter" -> ((qScanFilter _, qScanFilterSql)),
    "q1_agg" -> ((q1Agg _, q1AggSql)),
    "q_groupby_nan_budget" -> ((qGroupbyNanBudget _, qGroupbyNanBudgetSql)),
    "q_weighted_mean" -> ((qWeightedMean _, qWeightedMeanSql)),
    "q_distinct" -> ((qDistinct _, qDistinctSql)),
    "q_join_agg" -> ((qJoinAgg _, qJoinAggSql)),
    "q_merge_suffixes" -> ((qMergeSuffixes _, qMergeSuffixesSql)),
    "q_semi_join" -> ((qSemiJoin _, qSemiJoinSql)),
    "q_anti_join" -> ((qAntiJoin _, qAntiJoinSql)),
    "q_multi_merge" -> ((qMultiMerge _, qMultiMergeSql)),
    "q_combine_overlapping" -> ((qCombineOverlapping _, qCombineOverlappingSql)),
    "q_concat" -> ((qConcat _, qConcatSql)),
    "q_region_rollup" -> ((qRegionRollup _, qRegionRollupSql)),
    "q_region_budget" -> ((qRegionBudget _, qRegionBudgetSql)),
    "q_lww_latest" -> ((qLwwLatest _, qLwwLatestSql)),
    "q_rolling" -> ((qRolling _, qRollingSql)),
    "q_pct_change" -> ((qPctChange _, qPctChangeSql)),
    "q_cumsum" -> ((qCumsum _, qCumsumSql)),
    "q_ffill" -> ((qFfill _, qFfillSql)),
    "q_interpolate" -> ((qInterpolate _, qInterpolateSql)),
    "q_expand_time" -> ((qExpandTime _, qExpandTimeSql)),
    "q_explode_range" -> ((qExplodeRange _, qExplodeRangeSql)),
    "q_melt" -> ((qMelt _, qMeltSql)),
    "q_pivot" -> ((qPivot _, qPivotSql)),
    "q_long_to_wide" -> ((qLongToWide _, qLongToWideSql)),
    "q_grapher_publish" -> ((qGrapherPublish _, qGrapherPublishSql)),
    "q_scalar_funcs" -> ((qScalarFuncs _, qScalarFuncsSql)),
    "q_date_funcs" -> ((qDateFuncs _, qDateFuncsSql)),
    "q_regex_extract" -> ((qRegexExtract _, qRegexExtractSql)),
    "q_map_column" -> ((qMapColumn _, qMapColumnSql)),
    "q_corrections" -> ((qCorrections _, qCorrectionsSql)),
    "q_topk" -> ((qTopK _, qTopKSql)),
    "q_harmonize" -> ((qHarmonize _, qHarmonizeSql)),
    "q_expand_full_range" -> ((qExpandFullRange _, qExpandFullRangeSql)),
    "q_expand_until" -> ((qExpandUntil _, qExpandUntilSql)),
    "q_interpolate_clamp" -> ((qInterpolateClamp _, qInterpolateClampSql)),
    "q_groupby_agg_map" -> ((qGroupbyAggMap _, qGroupbyAggMapSql)),
    "q_concat_axis1" -> ((qConcatAxis1 _, qConcatAxis1Sql)),
    "q_row_total" -> ((qRowTotal _, qRowTotalSql)),
    "q_doubling_time" -> ((qDoublingTime _, qDoublingTimeSql)),
    "q_datadiff" -> ((qDatadiff _, qDatadiffSql)),
    "q_group_transform" -> ((qGroupTransform _, qGroupTransformSql))
  )
}
