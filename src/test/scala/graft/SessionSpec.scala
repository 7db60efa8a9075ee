package graft

/** The session the suite tests is the session `Verify` certifies: both
  * come out of [[Session.build]], so every certified conf — including
  * the aggregate fallback threshold and the cleaner's periodic GC — is
  * present on the test session too. */
class SessionSpec extends SparkSpec {

  private def assertCertified(s: org.apache.spark.sql.SparkSession): Unit =
    Session.confs(SparkSpec.cores).foreach { case (k, v) =>
      assert(s.conf.getOption(k) === Some(v), k)
    }

  test("the test session carries every certified conf") {
    assert(spark.sparkContext.master === s"local[${SparkSpec.cores}]")
    assertCertified(spark)
  }

  test("a second build in the same JVM returns the running session with the same confs") {
    val again = Session.build(SparkSpec.cores)
    assert(again eq spark)
    assertCertified(again)
  }

  test("withConfs restores a set key and unsets an unset key, also when the body throws") {
    val (set, unset) = ("spark.graft.test.withconfs.set", "spark.graft.test.withconfs.unset")
    def assertRestored(): Unit = {
      assert(spark.conf.get(set) === "before")
      assert(spark.conf.getOption(unset) === None)
    }
    spark.conf.set(set, "before")
    try {
      val inside = Session.withConfs(spark, set -> "inside", unset -> "inside") {
        (spark.conf.get(set), spark.conf.get(unset))
      }
      assert(inside === (("inside", "inside")))
      assertRestored()
      intercept[IllegalStateException] {
        Session.withConfs(spark, set -> "inside", unset -> "inside") {
          throw new IllegalStateException("body fails")
        }
      }
      assertRestored()
    } finally spark.conf.unset(set)
  }

  test("the test session plans with graft's extensions") {
    import spark.implicits._
    // nothing is installed at runtime: every rule, strategy and
    // function below comes from spark.sql.extensions at session build
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
    val points = Seq((1L, 5L), (2L, 25L)).toDF("pid", "p")
    val intervals = Seq((100L, 5L, 10L)).toDF("iid", "s", "e")
    val ranged = points.join(intervals, $"p".between($"s", $"e"))
    val plan = ranged.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(ranged.select($"pid", $"iid").as[(Long, Long)].collect().toSeq === Seq((1L, 100L)))
    Seq((1L, Array(1f, 0f), "a b c d e f", "x")).toDF("id", "v", "text", "word")
      .createOrReplaceTempView("graft_extensions_probe")
    val row = spark.sql(
      "SELECT cosine_similarity(v, v), " +
        "(SELECT count(*) FROM (SELECT shingles(text, 5) FROM graft_extensions_probe)), " +
        "(SELECT hll_distinct(word) FROM graft_extensions_probe) " +
        "FROM graft_extensions_probe").head()
    assert(row.getDouble(0) === 1.0 && row.getLong(1) === 2L && row.getDouble(2) > 0.0)
    val left = Seq(("u1", 10L)).toDF("k", "t")
    val right = Seq(("u1", 5L, "r")).toDF("k", "t", "rv")
    val asof = graft.plans.AsOfJoinNative.asofJoinBackward(left, right, "k", "t", Seq("rv"))
    assert(asof.queryExecution.sparkPlan.collect {
      case e: graft.plans.AsOfJoinExec => e
    }.size === 1)
    assert(asof.select($"asof_rv").as[String].collect().toSeq === Seq("r"))
  }
}
