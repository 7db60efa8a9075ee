package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders over the driver test data (TESTDATA.md).
  *
  * Scale notes (100 TB): every loader is a plain parquet scan, so Catalyst
  * predicate pushdown / column pruning / partition pruning apply untouched.
  * At cluster scale these would be partitioned tables (e.g. orders by
  * o_orderdate) — callers should never assume single-file layout.
  *
  * `documents`/`embeddings` are extra LLM-pipeline tables present on disk
  * under /root/testdata (every sf dir) but not listed in TESTDATA.md's
  * table list.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts across driver
    * testdata generations, so the loader dispatches on the RESOLVED
    * type instead of assuming one:
    *  - parquet TIMESTAMP(NANOS), which Spark's reader rejects
    *    outright → read nanos as raw longs (the legacy `nanosAsLong`
    *    conf, one of [[graft.Session.confs]]) and convert with
    *    integer division — ns epoch values exceed 2^53, so a
    *    double-precision divide would corrupt them. DuckDB truncates
    *    ns→µs the same way, keeping oracle parity.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → resolves as
    *    TIMESTAMP_NTZ; cast to TimestampType under the pinned UTC
    *    session TZ (same instants, and downstream schemas stay
    *    identical to the nanos path's `timestamp_micros` output).
    * Either way every consumer sees `ts: TIMESTAMP` with µs
    * precision. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
