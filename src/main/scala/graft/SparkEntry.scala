package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eth.Enrich
import graft.functions.ColumnFns._
import graft.queries.{Registry, Tables}

/** Driver contract — see SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** The engine's one session configuration, shared by Bench, Verify and
    * the test suite: `local[cpus]` with as many shuffle partitions, UTC,
    * no UI, log level WARN. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // object-hash aggregates (bottom-k sketch, uint256, percentile) keep
      // tiny per-group buffers; the 128-group fallback would sort whole
      // pair streams for no memory benefit
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query (SURVEY §7.1 end-to-end slice): pseudo-transactions with
    * derived tx_hash_prefix + block_id_group, enriched with their "receipts"
    * via the J1 broadcast join, filtered to a pruned block range. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables(spark, dir, "lineitem")
    val ord = Tables(spark, dir, "orders")
    val txs = li.select(
        col("l_orderkey"), col("l_linenumber"),
        concat(lit("0x"), md5(concat_ws("-", col("l_orderkey"), col("l_linenumber")))).as("tx_hash"))
      .withColumn("tx_hash_prefix", txHashPrefix(col("tx_hash")))
      .withColumn("block_id_group", blockIdGroup(col("l_orderkey")))
    val receipts = ord.select(
      col("o_orderkey").as("transaction_hash"),
      col("o_orderstatus").as("receipt_status"),
      col("o_totalprice").as("receipt_total"))
    Enrich.enrichTransactions(txs, receipts, txHashCol = "l_orderkey")
      .filter(col("block_id_group") <= 2)
  }

  /** One entry per implemented operator from SURVEY.md §2 (see COVERAGE.md). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Registry.oracleSql
}
