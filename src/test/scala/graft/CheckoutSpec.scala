package graft

import org.apache.spark.sql.functions._

import graft.model.Model
import graft.process.Checkout
import graft.streaming.CheckoutStream

/** Checkout-core parity with the reference scenario matrix
  * (FIXTURES.md A.4/A.6; reference README.md:191-258,
  * tests/test_processor.py:23-126) on the exact 5-row inventory seed. */
class CheckoutSpec extends SparkSpec {
  import spark.implicits._

  // Reference inventory seed — db/init_schema.sql:9-14
  private def seedInventory = Seq(
    ("prod-101", 50), ("prod-102", 20), ("prod-103", 35),
    ("prod-104", 10), ("prod-105", 5)).toDF("product_id", "stock")

  private def lines(rows: (String, String, Int)*) =
    rows.toDF("order_id", "product_id", "quantity")
      .withColumn("quantity", col("quantity").cast("long"))

  private def statusOf(verdicts: org.apache.spark.sql.DataFrame): Map[String, String] =
    verdicts.collect().map(r => r.getAs[String]("order_id") -> r.getAs[String]("status")).toMap

  test("scenario 1 (happy path): sufficient stock => PROCESSED") {
    val v = CheckoutStream.admitOrders(lines(("o-1", "prod-101", 2)), seedInventory)
    assert(statusOf(v) === Map("o-1" -> Model.StatusProcessed))
  }

  test("scenario 4 (insufficient): quantity 9999 => FAILED, stock unchanged") {
    val l = lines(("o-1", "prod-101", 9999))
    val v = CheckoutStream.admitOrders(l, seedInventory)
    assert(statusOf(v) === Map("o-1" -> Model.StatusFailed))
  }

  test("scenario 6 (unknown product): missing inventory key => FAILED") {
    val v = CheckoutStream.admitOrders(lines(("o-1", "prod-999", 1)), seedInventory)
    assert(statusOf(v) === Map("o-1" -> Model.StatusFailed))
  }

  test("A2 all-or-nothing: one bad line fails the whole order, other orders unaffected") {
    val l = lines(
      ("o-1", "prod-101", 2), ("o-1", "prod-105", 9999), // o-1 must fail atomically
      ("o-2", "prod-101", 3)) // o-2 untouched by o-1's failure
    val v = CheckoutStream.admitOrders(l, seedInventory)
    assert(statusOf(v) === Map("o-1" -> Model.StatusFailed, "o-2" -> Model.StatusProcessed))
  }

  test("contention: serialized by order_id, conservation holds") {
    // prod-105 has 5: o-1 takes 4, o-2 wants 4 => o-2 fails (cum 8 > 5)
    val l = lines(("o-1", "prod-105", 4), ("o-2", "prod-105", 4))
    val v = CheckoutStream.admitOrders(l, seedInventory)
    assert(statusOf(v) === Map("o-1" -> Model.StatusProcessed, "o-2" -> Model.StatusFailed))
  }

  test("InventoryTable: transactional decrement across micro-batches + idempotent redelivery") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inv").toString
    val inv = new CheckoutStream.InventoryTable(spark, dir)
    inv.initialize(seedInventory)
    // batch 1: o-1 takes 2 of prod-101
    val v1 = CheckoutStream.admitOrders(lines(("o-1", "prod-101", 2)), inv.current())
    assert(statusOf(v1)("o-1") === Model.StatusProcessed)
    inv.applyBatch(lines(("o-1", "prod-101", 2)), batchId = 0)
    val after1 = inv.current().filter($"product_id" === "prod-101").collect()(0).getAs[Int]("stock")
    assert(after1 === 48)
    // batch 1 RETRIED (redelivery): re-reads the same pre-batch version
    // and overwrites the same target — no double decrement
    inv.applyBatch(lines(("o-1", "prod-101", 2)), batchId = 0)
    val retried = inv.current().filter($"product_id" === "prod-101").collect()(0).getAs[Int]("stock")
    assert(retried === 48)
    // batch 2: different order, decrements again
    inv.applyBatch(lines(("o-2", "prod-101", 3)), batchId = 1)
    val after2 = inv.current().filter($"product_id" === "prod-101").collect()(0).getAs[Int]("stock")
    assert(after2 === 45)
  }

  test("InventoryTable: a batch without lines writes no version; later batches and retries read the latest before them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inv-sparse").toString
    val inv = new CheckoutStream.InventoryTable(spark, dir)
    inv.initialize(seedInventory)
    def versionDirs = new java.io.File(dir).list().filter(_.startsWith("v")).sorted.toSeq
    // batch 0 writes v1: prod-105 5 -> 2
    inv.applyBatch(lines(("o-1", "prod-105", 3)), batchId = 0)
    assert(versionDirs === Seq("v0", "v1"))
    // batch 1 has no lines: no verdicts, no v2
    assert(inv.applyBatch(lines(), batchId = 1).count() === 0)
    assert(versionDirs === Seq("v0", "v1"))
    // batch 2 admits against v1, the latest version <= 2 (against v0
    // both orders would pass, against its own v3 both would fail)
    val b2 = lines(("o-2", "prod-105", 2), ("o-3", "prod-105", 1))
    val first = statusOf(inv.applyBatch(b2, batchId = 2))
    assert(first === Map("o-2" -> Model.StatusProcessed, "o-3" -> Model.StatusFailed))
    assert(versionDirs === Seq("v0", "v1", "v3"))
    val v3 = inv.current().collect().toSet
    assert(v3.find(_.getString(0) == "prod-105").map(_.getInt(1)) === Some(0))
    // batch 2 RETRIED with v3 present: same pre-batch version, same
    // verdicts, same v3
    assert(statusOf(inv.applyBatch(b2, batchId = 2)) === first)
    assert(versionDirs === Seq("v0", "v1", "v3"))
    assert(inv.current().collect().toSet === v3)
  }

  test("A3 dedupFirstBy keeps the first delivery per key and is idempotent") {
    val df = Seq((1L, "a", 10L), (1L, "a", 20L), (2L, "b", 30L)).toDF("k", "t", "seq")
    val once = Checkout.dedupFirstBy(df, Seq("k", "t"), "seq")
    val twice = Checkout.dedupFirstBy(once, Seq("k", "t"), "seq")
    assert(once.collect().map(_.getLong(2)).sorted.toSeq === Seq(10L, 30L))
    assert(twice.count() === once.count())
  }

  test("batch checkout pipeline on testdata matches its own invariants") {
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
    val verdicts = Checkout.checkout(li, part)
    val n = verdicts.count()
    assert(n === li.select("l_orderkey").distinct().count())
    val fin = Checkout.finalInventory(
      Checkout.inventoryFromParts(part),
      Checkout.lineVerdicts(li, Checkout.inventoryFromParts(part)),
      verdicts)
    // conservation: remaining = stock - demand, demand only from PROCESSED
    assert(fin.filter($"remaining" =!= $"stock" - $"demand").count() === 0)
  }
}
