package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — the
  * ScalaTest suites run sequentially in the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** Always 4 threads, never `Session.cores`: the suite's figures are
    * pinned at 4 shuffle partitions whatever box runs it. */
  val cores = 4
  lazy val session: SparkSession = Session.build(cores)
}
