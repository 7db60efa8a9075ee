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
}
