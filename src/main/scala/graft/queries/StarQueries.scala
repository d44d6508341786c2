package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Calendar
import graft.sources.Tables.t

/** Star-schema assembly queries — the gold-layer semantics of the reference
  * (notebooks/34_ETL_Gold_Fact_PySpark.py:44-83): left-outer join chain from
  * the fact grain out to the dimensions, smart date key, `-9` unknown-member
  * defaulting for missing FKs, `N/A` defaulting for missing attributes
  * (33_ETL_Gold_Dim_PySpark.py:48-54), and zero-defaulting for measures.
  *
  * Plan shape at scale: lineitem (the 100 TB side) left-joins orders on the
  * shuffle key once; customer/nation/region are broadcast. The calendar join
  * is replaced by computing the smart key directly from the order date — the
  * reference does the same arithmetic rather than joining dim_calendar
  * (34_ETL_Gold_Fact_PySpark.py:75).
  */
object StarQueries {

  private def dec6(c: Column): Column = c.cast(DecimalType(18, 6))
  private def d(c: Column): Column = c.cast(DoubleType)

  // q15: the calendar dimension itself (restricted range keeps the oracle
  // fast; full 2000–2030 build is exercised in the unit spec).
  def q15Calendar(s: SparkSession): DataFrame =
    Calendar.build(s, "2000-01-01", "2002-12-31").orderBy(col("date_key"))

  // q16: star-join aggregate — fact assembled from raw tables with
  // unknown-member defaults, rolled up to (year, region).
  def q16StarAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"), "left_outer")
      .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left_outer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left_outer")
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"), "left_outer")
      .groupBy(
        coalesce(year(col("o_orderdate")).cast("int"), lit(-9)).as("order_year"),
        coalesce(col("r_name"), lit("N/A")).as("region_name"))
      .agg(
        count(lit(1)).as("n_lines"),
        d(sum(dec6(coalesce(col("l_quantity"), lit(0.0))))).as("sum_qty"),
        d(round(sum(dec6(coalesce(col("l_extendedprice"), lit(0.0))) *
              dec6(lit(1.0) - coalesce(col("l_discount"), lit(0.0)))), 6)).as("revenue"))
      .orderBy(col("order_year"), col("region_name"))
  }

  // q17: line-grain fact projection with smart date key and -9/0 defaults —
  // the literal shape of the reference fact load (34:72-82), sampled to one
  // order bucket to keep the verify dump small while preserving semantics.
  def q17FactProjection(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    li.join(o, col("l_orderkey") === col("o_orderkey"), "left_outer")
      .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left_outer")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        coalesce(
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
            dayofmonth(col("o_orderdate"))).cast("int"),
          lit(-9)).as("date_key"),
        coalesce(col("c_custkey"), lit(-9L)).as("customer_key"),
        coalesce(col("c_mktsegment"), lit("N/A")).as("mktsegment"),
        coalesce(col("l_quantity"), lit(0.0)).as("sales_qty"),
        d(dec6(coalesce(col("l_extendedprice"), lit(0.0)))).as("sales_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q15_calendar" -> ((s, _) => q15Calendar(s)),
    "q16_star_agg" -> q16StarAgg _,
    "q17_fact_projection" -> q17FactProjection _)

  val oracles: Map[String, String] = Map(
    "q15_calendar" ->
      """WITH days AS (
        |  SELECT CAST(UNNEST(generate_series(DATE '2000-01-01', DATE '2002-12-31', INTERVAL 1 DAY)) AS DATE) AS cal_date)
        |SELECT
        |  CAST(YEAR(cal_date)*10000 + MONTH(cal_date)*100 + DAY(cal_date) AS INT) AS date_key,
        |  cal_date,
        |  CAST(YEAR(cal_date) AS INT) AS cal_year,
        |  CAST(MONTH(cal_date) AS INT) AS cal_month,
        |  CAST(DAY(cal_date) AS INT) AS cal_day,
        |  strftime(cal_date, '%A') AS day_name,
        |  strftime(cal_date, '%B') AS month_name,
        |  strftime(cal_date, '%B %Y') AS month_year_label,
        |  strftime(cal_date, '%A %B %d %Y') AS date_label,
        |  CAST(isodow(cal_date) - 1 AS INT) AS weekday_idx,
        |  CAST(weekofyear(cal_date) AS INT) AS iso_week,
        |  cal_date - CAST(isodow(cal_date) - 1 AS INT) AS week_start,
        |  cal_date - CAST(isodow(cal_date) - 1 AS INT) + 6 AS week_end,
        |  last_day(cal_date) AS month_end,
        |  last_day(cal_date - INTERVAL 1 MONTH) AS prev_month_end,
        |  last_day(cal_date - INTERVAL 1 MONTH) + 1 AS month_start,
        |  CAST(quarter(cal_date) AS INT) AS fiscal_quarter,
        |  CAST(YEAR(cal_date + 89) AS INT) AS fiscal_year
        |FROM days ORDER BY date_key""".stripMargin,
    "q16_star_agg" ->
      """SELECT COALESCE(CAST(YEAR(o_orderdate) AS INT), -9) AS order_year,
        |  COALESCE(r_name, 'N/A') AS region_name,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(COALESCE(l_extendedprice, 0.0) AS DECIMAL(18,6)) *
        |           CAST(CAST(1.0 AS DOUBLE) - COALESCE(l_discount, 0.0) AS DECIMAL(18,6))), 6) AS DOUBLE) AS revenue
        |FROM lineitem
        |LEFT JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY order_year, region_name""".stripMargin,
    "q17_fact_projection" ->
      """SELECT l_orderkey, l_linenumber,
        |  COALESCE(CAST(YEAR(o_orderdate)*10000 + MONTH(o_orderdate)*100 + DAY(o_orderdate) AS INT), -9) AS date_key,
        |  COALESCE(c_custkey, -9) AS customer_key,
        |  COALESCE(c_mktsegment, 'N/A') AS mktsegment,
        |  COALESCE(l_quantity, 0.0) AS sales_qty,
        |  CAST(CAST(COALESCE(l_extendedprice, 0.0) AS DECIMAL(18,6)) AS DOUBLE) AS sales_price
        |FROM lineitem
        |LEFT JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)
}
