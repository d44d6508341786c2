package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Medallion
import graft.tables.TableStore

/** End-to-end medallion pipeline as a verifiable query: run bronze → silver
  * (SCD2 initial load) → gold dims (surrogate keys + -9 seeds) → gold fact
  * (star join, smart date keys) in a throwaway table store, then read back
  * the fact table. The DuckDB oracle reproduces the entire lineage in one
  * SQL statement (surrogate keys = ROW_NUMBER over the same ordering;
  * silver's PK dedup = the same deterministic QUALIFY row_number).
  * Doubles as the ETL-throughput benchmark entry — it is the reference's
  * actual daily workload shape.
  */
object PipelineQueries {

  private def factReadback(store: TableStore): DataFrame =
    store.read("gold.fact_sales")
      .select(
        col("sales_order_key"), col("sales_line_number"),
        col("_tf_dim_calendar_id"), col("_tf_dim_customer_id"), col("_tf_dim_geography_id"),
        col("sales_qty").cast("double").as("sales_qty"),
        col("sales_extended_price").cast("double").as("sales_extended_price"),
        col("sales_net_price").cast("double").as("sales_net_price"))
      .orderBy(col("sales_order_key"), col("sales_line_number"))

  def q23PipelineFact(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_pipeline_q")
    Scratch.sealing(store) {
      new Medallion(s, store, dir).run(lit("2024-01-01 00:00:00"))
      factReadback(store)
    }
  }

  /** q23's star output produced through [[Medallion.runTransactional]] —
    * the whole-pipeline single-transaction commit path (13 tables staged,
    * one all-or-nothing publish) under the same DuckDB oracle as the
    * per-stage `run()`: both paths must converge to the identical fact
    * rows, so the transactional plumbing (staged manifests, read-your-
    * writes via readStaged, parallel bronze+silver staging) is hash-gated
    * end-to-end, not just spec-covered for crash atomicity. */
  def q59PipelineTxnFact(s: SparkSession, dir: String): DataFrame = {
    val store = Scratch.store(s, "graft_pipeline_txn_q")
    Scratch.sealing(store) {
      new Medallion(s, store, dir).runTransactional(lit("2024-01-01 00:00:00"))
      factReadback(store)
    }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_pipeline_fact" -> q23PipelineFact _,
    "q59_pipeline_txn_fact" -> q59PipelineTxnFact _)

  // q59 runs the SAME lineage through the transactional commit path, so it
  // shares q23's oracle verbatim — bit-for-bit convergence is the point
  private val factOracleSql: String =
      """WITH dimc AS (
        |  SELECT c_custkey AS customer_key, c_nationkey AS nation_key,
        |    ROW_NUMBER() OVER (ORDER BY c_custkey) AS _tf_dim_customer_id
        |  FROM customer),
        |dimg AS (
        |  SELECT n_nationkey AS nation_key,
        |    ROW_NUMBER() OVER (ORDER BY n_nationkey) AS _tf_dim_geography_id
        |  FROM nation)
        |SELECT l_orderkey AS sales_order_key, l_linenumber AS sales_line_number,
        |  COALESCE(CAST(YEAR(o_orderdate)*10000 + MONTH(o_orderdate)*100 + DAY(o_orderdate) AS INT), -9) AS _tf_dim_calendar_id,
        |  COALESCE(dimc._tf_dim_customer_id, -9) AS _tf_dim_customer_id,
        |  COALESCE(dimg._tf_dim_geography_id, -9) AS _tf_dim_geography_id,
        |  CAST(CAST(COALESCE(l_quantity, 0.0) AS DECIMAL(19,4)) AS DOUBLE) AS sales_qty,
        |  CAST(CAST(COALESCE(l_extendedprice, 0.0) AS DECIMAL(19,4)) AS DOUBLE) AS sales_extended_price,
        |  CAST(CAST(COALESCE(l_extendedprice, 0.0) * (CAST(1.0 AS DOUBLE) - COALESCE(l_discount, 0.0)) AS DECIMAL(38,6)) AS DOUBLE) AS sales_net_price
        |FROM (SELECT * FROM lineitem
        |      QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
        |        ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount,
        |                 l_tax, l_returnflag, l_linestatus, l_shipdate) = 1) lineitem
        |LEFT JOIN orders ON l_orderkey = o_orderkey
        |LEFT JOIN dimc ON o_custkey = dimc.customer_key
        |LEFT JOIN dimg ON dimc.nation_key = dimg.nation_key
        |ORDER BY sales_order_key, sales_line_number""".stripMargin

  val oracles: Map[String, String] = Map(
    "q23_pipeline_fact" -> factOracleSql,
    "q59_pipeline_txn_fact" -> factOracleSql)
}
