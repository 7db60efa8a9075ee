package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.certs._
import graft.process.Checkout
import graft.sources.Tables

/** Driver contract (SURVEY.md §7): the flagship `entry`, and the
  * certified queries with their DuckDB oracles.
  *
  * Every entry in `queries` is an implemented operator from SURVEY.md §2
  * (or an LLM-pipeline extension op); every entry in `oracleSql` is the
  * DuckDB-equivalent ANSI SQL the driver hash-compares against at
  * sf0.01. Column names, types and row order are aligned on both sides:
  * aggregates are explicitly aliased, DuckDB integer aggregates are cast
  * to Spark's result types (DuckDB sum(INT) is HUGEINT), doubles are
  * rounded only at the output edge, and each query carries a total
  * ORDER BY on a unique key. Both maps are views of one [[Cert]] record
  * per name, kept per family under `graft.certs`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The checkout-parity composition: fact scan → broadcast
    * inventory lookup → all-or-nothing order verdict → status counts. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Checkout.checkout(Tables.lineitem(spark, dir), Tables.part(spark, dir))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n_items")).as("n_lines"))
      .orderBy(col("status"))
  }

  private lazy val registry: Map[String, Cert] = Cert.index(
    CheckoutCerts.certs ++ RelCerts.certs ++ StreamCerts.certs ++ StoreCerts.certs ++
      TextCerts.certs ++ EmbCerts.certs ++ DedupCerts.certs ++ MmCerts.certs)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, c) => n -> c.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, c) => n -> c.oracleSql }
}
