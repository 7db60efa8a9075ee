package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.plans.{AsOfJoinExec, AsOfJoinNative, AsOfJoinStrategy}

/** The native as-of join (custom LogicalPlan + SparkStrategy +
  * merge-sweep SparkPlan) — semantics against the composed window
  * formulation, plan shape, and the session-build installation. */
class AsOfNativeSpec extends SparkSpec {

  private def mk() = {
    import spark.implicits._
    val left = Seq(
      ("u1", 10L, "l_a"), ("u1", 20L, "l_b"), ("u1", 20L, "l_b2"),
      ("u2", 5L, "l_c"),
      ("u3", 50L, "l_d") // no right rows for u3 at or before 50
    ).toDF("k", "t", "lv")
    val right = Seq(
      ("u1", 10L, "r_x"),  // equal timestamp: inclusive bound must match
      ("u1", 15L, "r_y"),
      ("u2", 9L, "r_z"),   // after u2's only left row: no match
      ("u3", 60L, "r_w")   // after u3's left row
    ).toDF("k", "t", "rv")
    (left, right)
  }

  test("native as-of matches the composed window formulation row for row") {
    val (left, right) = mk()
    val native = AsOfJoinNative.asofJoinBackward(left, right, "k", "t", Seq("rv"))
      .orderBy(col("k"), col("t"), col("lv"))
    val composed = graft.ops.AsOf.asofJoinBackward(left, right, "k", "t", Seq("rv"))
      .orderBy(col("k"), col("t"), col("lv"))
    assert(native.columns.toSeq == composed.columns.toSeq)
    assert(native.collect().toSeq == composed.collect().toSeq)
    // spot-check the semantics directly: inclusive bound at equal ts,
    // latest-wins, null where nothing is admissible
    val rows = native.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)))).toSeq
    assert(rows == Seq(
      ("u1", 10L, "l_a", Some("r_x")),
      ("u1", 20L, "l_b", Some("r_y")),
      ("u1", 20L, "l_b2", Some("r_y")),
      ("u2", 5L, "l_c", None),
      ("u3", 50L, "l_d", None)))
  }

  test("plan contains AsOfJoinExec fed by exchanges + sorts on both sides") {
    val (left, right) = mk()
    // AQE wraps finished stages as leaf QueryStageExec nodes, so a
    // plain collect can't see inside them — plan this one without AQE
    // (the AQE run is covered by the row-equality test above, which
    // exercises coalesced co-partitioned reads on both sides)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exec =
      try AsOfJoinNative.asofJoinBackward(left, right, "k", "t", Seq("rv"))
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val asofs = exec.collect { case e: AsOfJoinExec => e }
    assert(asofs.size == 1, s"expected one AsOfJoinExec in:\n$exec")
    // EnsureRequirements must have planned the SMJ shape: hash exchange
    // + in-partition sort on each side (the local[4] plan has no
    // pre-existing clustering to reuse)
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    assert(exec.collect { case s: SortExec => s }.size >= 2)
    assert(exec.collect { case s: ShuffleExchangeLike => s }.size >= 2)
  }

  test("self-as-of (both sides from one scan) dedups exprIds and runs") {
    import spark.implicits._
    val ev = Seq(
      ("u1", 1L, "click", "e1"), ("u1", 3L, "click", "e3"),
      ("u1", 2L, "buy", "e2"), ("u2", 4L, "click", "e4")
    ).toDF("k", "t", "typ", "id")
    val clicks = ev.filter(col("typ") === "click").select(col("k"), col("t"), col("id"))
    val buys = ev.filter(col("typ") === "buy").select(col("k"), col("t"), col("id"))
    val out = AsOfJoinNative.asofJoinBackward(clicks, buys, "k", "t", Seq("id"))
      .orderBy(col("k"), col("t"))
      .select(col("id"), col("asof_id")).collect().toSeq
    assert(out == Seq(Row("e1", null), Row("e3", "e2"), Row("e4", null)))
  }

  test("build-time extensions path installs the strategy") {
    // the session's planner carries the strategy GraftExtensions
    // injected; nothing is registered at runtime
    assert(spark.experimental.extraStrategies.isEmpty)
    val planner = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner
    assert(planner.extraPlanningStrategies.contains(AsOfJoinStrategy))
  }

  test("pre-partitioned children (mismatched counts, range-on-time) still co-partition") {
    import spark.implicits._
    val left = (1 to 500).map(i => (s"u${i % 37}", i.toLong, s"l$i")).toDF("k", "t", "lv")
    val right = (1 to 300).map(i => (s"u${i % 37}", (i * 2).toLong, s"r$i")).toDF("k", "t", "rv")
    val expected = graft.ops.AsOf.asofJoinBackward(left, right, "k", "t", Seq("rv"))
      .orderBy(col("k"), col("t"), col("lv")).collect().toSeq
    // hash-on-key with a DIFFERENT partition count than the session
    // default: EnsureRequirements must reconcile the counts
    val lHash = left.repartition(7, col("k"))
    val out1 = AsOfJoinNative.asofJoinBackward(lHash, right, "k", "t", Seq("rv"))
      .orderBy(col("k"), col("t"), col("lv")).collect().toSeq
    assert(out1 == expected)
    // RANGE partitioning on the TIME column satisfies no clustering on
    // the key — the planner must reshuffle, not zip mismatched layouts
    val lRange = left.repartitionByRange(3, col("t"))
    val out2 = AsOfJoinNative.asofJoinBackward(lRange, right, "k", "t", Seq("rv"))
      .orderBy(col("k"), col("t"), col("lv")).collect().toSeq
    assert(out2 == expected)
    // and range ON THE KEY: clustered-but-not-hash — whatever the
    // planner decides (keep or reshuffle), rows must match
    val lRangeKey = left.repartitionByRange(5, col("k"))
    val out3 = AsOfJoinNative.asofJoinBackward(lRangeKey, right, "k", "t", Seq("rv"))
      .orderBy(col("k"), col("t"), col("lv")).collect().toSeq
    assert(out3 == expected)
  }

  test("nearest native ≡ composed: forward-only, backward-only, equidistant tie") {
    import spark.implicits._
    val left = Seq(
      ("u1", 10L, "la"),  // backward r@8 (d2) vs forward r@13 (d3) → backward
      ("u1", 12L, "lb"),  // backward r@8 (d4) vs forward r@13 (d1) → forward
      ("u2", 5L, "lc"),   // forward-only r@9
      ("u3", 9L, "ld"),   // backward-only r@4
      ("u4", 7L, "le"),   // equidistant r@5 / r@9 → earlier (backward)
      ("u5", 1L, "lf")    // no right rows at all
    ).toDF("k", "t", "lv")
    val right = Seq(
      ("u1", 8L, "r8"), ("u1", 13L, "r13"),
      ("u2", 9L, "r9"), ("u3", 4L, "r4"),
      ("u4", 5L, "r5"), ("u4", 9L, "r9b")
    ).toDF("k", "t", "rv")
    val native = AsOfJoinNative.asofJoinNearest(left, right, "k", "t", Seq("rv"))
      .orderBy(col("k"), col("t")).collect().toSeq
    val composed = graft.ops.AsOf.asofJoinNearest(left, right, "k", "t", Seq("rv"))
      .orderBy(col("k"), col("t")).collect().toSeq
    assert(native == composed)
    val picks = native.map(r => r.getString(2) -> Option(r.getString(3))).toMap
    assert(picks == Map("la" -> Some("r8"), "lb" -> Some("r13"),
      "lc" -> Some("r9"), "ld" -> Some("r4"), "le" -> Some("r5"), "lf" -> None))
  }

  test("composite keys: (tenant, user) clusters, matches only within both keys") {
    import spark.implicits._
    val left = Seq(
      ("t1", "u1", 10L, "a"), ("t2", "u1", 10L, "b"), ("t1", "u2", 10L, "c")
    ).toDF("tenant", "k", "t", "lv")
    val right = Seq(
      ("t1", "u1", 5L, "r_t1u1"), ("t2", "u1", 6L, "r_t2u1")
    ).toDF("tenant", "k", "t", "rv")
    val out = AsOfJoinNative
      .asofJoinBackwardKeys(left, right, Seq("tenant", "k"), "t", Seq("rv"))
      .orderBy(col("tenant"), col("k"))
      .collect().map(r => r.getString(3) -> Option(r.getString(4))).toMap
    // same user in two tenants must NOT cross-match; (t1, u2) has no row
    assert(out == Map("a" -> Some("r_t1u1"), "b" -> Some("r_t2u1"), "c" -> None))
  }

  test("bucketed layout plans the native as-of with ZERO exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("graft-asof-bkt")
    val left = (1 to 400).map(i => (s"u${i % 23}", i.toLong, s"l$i")).toDF("k", "t", "lv")
    val right = (1 to 250).map(i => (s"u${i % 23}", (i * 3).toLong, s"r$i")).toDF("k", "t", "rv")
    try {
      Session.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
        val bl = graft.sources.Bucketing.writeBucketed(left, s"$dir/l", "spec_asof_l", "k", 4)
        val br = graft.sources.Bucketing.writeBucketed(right, s"$dir/r", "spec_asof_r", "k", 4)
        val native = AsOfJoinNative.asofJoinBackward(bl, br, "k", "t", Seq("rv"))
        val shuffles = native.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        // the SortMergeJoin privilege extended to as-of: the bucket
        // layout satisfies both ClusteredDistributions, so the plan
        // needs only in-partition sorts, never an exchange
        assert(shuffles.isEmpty,
          s"expected exchange-free bucketed as-of, got:\n${native.queryExecution.executedPlan}")
        val plain = graft.ops.AsOf.asofJoinBackward(left, right, "k", "t", Seq("rv"))
          .orderBy(col("k"), col("t"), col("lv")).collect().toSeq
        assert(native.orderBy(col("k"), col("t"), col("lv")).collect().toSeq == plain)
      }
    } finally {
      graft.sources.Bucketing.drop(spark, "spec_asof_l")
      graft.sources.Bucketing.drop(spark, "spec_asof_r")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("empty right side yields all-null carries, not an error") {
    val (left, right) = mk()
    val out = AsOfJoinNative.asofJoinBackward(
      left, right.filter(col("k") === "nope"), "k", "t", Seq("rv"))
    assert(out.count() == left.count())
    assert(out.filter(col("asof_rv").isNotNull).count() == 0)
  }
}
