package graft.certs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One certified query: `build` runs it against a dataset directory,
  * `oracleSql` is the DuckDB-equivalent ANSI SQL its result is
  * hash-compared against.
  *
  * ORACLE-AUTHORING RULES — the oracle compare sorts columns by NAME
  * and HASHES values; a query that is value-exact locally can still
  * fail it. These traps have each fired at least once:
  *
  *  1. NO DECIMAL OUTPUT COLUMNS, any precision. <=18 digits has
  *     passed so far but >18 (byte-array-backed decimal128) is
  *     PROVEN hash-unstable (rel_decimal_exact r7, store_segment_widen
  *     r12). Emit exact scaled BIGINT (cents) when the magnitude fits
  *     a Long, else CAST(... AS STRING) on BOTH sides. Storing
  *     decimals in tables is fine — only the final projection matters.
  *  2. DuckDB sum(INT/BIGINT) returns HUGEINT — CAST(... AS BIGINT)
  *     in the oracle SQL to match Spark's LongType.
  *  3. Total ORDER BY on a unique key on BOTH sides — ties in the
  *     sort key make row order (and thus the hash) nondeterministic.
  *  4. Identical column aliases both sides: alias every computed
  *     column in the Spark query (.as("x") / AS x) AND the oracle.
  *  5. Avoid FLOAT outputs where an expression reorders between
  *     engines; DOUBLE computed the same way on both sides is fine.
  *
  * Each family object holds its records in a `lazy val certs`: the
  * oracle strings interpolate fragments declared further down the
  * object, which a strict initializer would read as null. */
final case class Cert(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Cert {

  /** `certs` by name. Requires every name to be distinct: a map built
    * from a duplicated name would silently keep only one of them. */
  def index(certs: Seq[Cert]): Map[String, Cert] = {
    val dups = certs.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty, s"duplicate certificate names: ${dups.toSeq.sorted.mkString(", ")}")
    certs.map(c => c.name -> c).toMap
  }
}
