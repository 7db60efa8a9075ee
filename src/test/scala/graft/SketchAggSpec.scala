package graft

import org.apache.spark.sql.functions._

import graft.functions.HllDistinct
import graft.ops.Hll

/** The native HLL aggregate (TypedImperativeAggregate) against the
  * relational register-frame formulation: the two must agree EXACTLY —
  * same hash, same registers, same estimate arithmetic, same rounding.
  */
class SketchAggSpec extends SparkSpec {

  private def words(n: Int, langs: Int) = {
    import spark.implicits._
    spark.range(0, n).select(
      concat(lit("l"), (col("id") % langs).cast("string")).as("lang"),
      // ~n/3 distinct words per lang, multiplicities 1..3
      concat(lit("w"), ((col("id") * 2654435761L) % (n / 3)).cast("string")).as("word"))
  }

  test("native hll_distinct equals the register-frame estimate exactly, per group") {
    val df = words(30000, 4).repartition(7) // force partial + final aggregation
    val native = df.groupBy("lang")
      .agg(HllDistinct.hllDistinct(col("word"), 9).as("n_est"))
      .orderBy("lang").collect().map(r => (r.getString(0), r.getDouble(1)))
    val frame = Hll.estimate(Hll.sketch(df, Seq("lang"), col("word"), 9), Seq("lang"), 9)
      .orderBy("lang").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(native.toSeq == frame.toSeq) // exact, not tolerance
  }

  test("estimate is in a sane band and multiplicity-invariant") {
    import spark.implicits._
    val base = (0 until 5000).map(i => s"tok$i").toDF("word").select(lit("g").as("g"), col("word"))
    val tripled = base.union(base).union(base).repartition(5)
    val est1 = base.groupBy("g").agg(HllDistinct.hllDistinct(col("word"), 11)).head().getDouble(1)
    val est3 = tripled.groupBy("g").agg(HllDistinct.hllDistinct(col("word"), 11)).head().getDouble(1)
    assert(est1 == est3, "duplicate occurrences must not move any register")
    assert(math.abs(est1 - 5000) / 5000.0 < 0.1, s"estimate $est1 too far from 5000")
  }

  test("shard-merge through partial aggregation equals the one-shot sketch") {
    val df = words(20000, 3)
    val whole = df.coalesce(1).groupBy("lang")
      .agg(HllDistinct.hllDistinct(col("word"), 9).as("e"))
      .orderBy("lang").collect().toSeq
    val sharded = df.repartition(13).groupBy("lang")
      .agg(HllDistinct.hllDistinct(col("word"), 9).as("e"))
      .orderBy("lang").collect().toSeq
    assert(whole.map(_.getDouble(1)) == sharded.map(_.getDouble(1)))
  }

  test("SQL registration: SELECT hll_distinct(word) matches the Column API") {
    val df = words(10000, 2)
    df.createOrReplaceTempView("hll_words")
    val viaSql = spark.sql(
      "SELECT lang, hll_distinct(word) AS n_est FROM hll_words GROUP BY lang ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val viaApi = df.groupBy("lang")
      .agg(HllDistinct.hllDistinct(col("word"), 9).as("n_est"))
      .orderBy("lang").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(viaSql.toSeq == viaApi.toSeq)
    val viaSqlP = spark.sql(
      "SELECT lang, hll_distinct(word, 11) AS n_est FROM hll_words GROUP BY lang ORDER BY lang")
      .collect().map(_.getDouble(1))
    assert(viaSqlP.length == 2) // precision arg accepted
  }

  test("native kmv_distinct equals the frame sketch+estimate exactly, per group") {
    val df = words(30000, 4).repartition(7)
    val native = df.groupBy("lang")
      .agg(graft.functions.KmvDistinct.kmvDistinct(col("word"), 256).as("n_est"))
      .orderBy("lang").collect().map(r => (r.getString(0), r.getDouble(1)))
    val frame = graft.ops.Kmv.estimateDistinct(
        graft.ops.Kmv.sketch(df, Seq("lang"), col("word"), 256), Seq("lang"), 256)
      .orderBy("lang").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(native.toSeq == frame.toSeq)
  }

  test("kmv under-fill branch is exact; duplicates never occupy two slots") {
    import spark.implicits._
    val df = (0 until 100).flatMap(i => Seq(s"t$i", s"t$i"))
      .toDF("word").select(lit("g").as("g"), col("word")).repartition(5)
    val est = df.groupBy("g")
      .agg(graft.functions.KmvDistinct.kmvDistinct(col("word"), 256).as("e"))
      .head().getDouble(1)
    assert(est == 100.0, "sketch not filled (100 < 256): estimate must be exactly the distinct count")
  }

  test("Misra-Gries guarantee: every item above n/(k+1) frequency survives as a candidate") {
    import spark.implicits._
    // skewed stream: item "hot_i" appears (20-i)*100 times for i<10,
    // plus 10000 singleton tails → n = 15500+10000... compute exactly
    val heavy = (0 until 10).flatMap(i => Seq.fill((20 - i) * 100)(s"hot_$i"))
    val tail = (0 until 10000).map(i => s"tail_$i")
    val all = heavy ++ tail
    val n = all.size
    val k = 50
    val df = all.toDF("word").repartition(13) // adversarial partitioning
    val cands = df.agg(graft.functions.TopFreq.topFreq(col("word"), k).as("c"))
      .select(explode(col("c")).as("word")).as[String].collect().toSet
    assert(cands.size <= k)
    val guaranteed = (heavy ++ tail).groupBy(identity).view.mapValues(_.size)
      .filter(_._2 > n / (k + 1)).keySet
    assert(guaranteed.nonEmpty)
    assert(guaranteed.subsetOf(cands),
      s"missing guaranteed heavy hitters: ${guaranteed -- cands}")
  }

  test("two-pass heavy hitters: sketch candidates + exact recount equal the exact answer") {
    import spark.implicits._
    val words = (0 until 30000).map { i =>
      if (i % 3 == 0) s"common_${i % 7}" else s"rare_$i"
    }
    val df = words.toDF("word").repartition(9)
    val cands = df.agg(graft.functions.TopFreq.topFreq(col("word"), 100).as("c"))
      .select(explode(col("c")).as("word"))
    val tot = df.count()
    val twoPass = df.join(broadcast(cands), "word")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") * 100 > tot)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exact = df.groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") * 100 > tot)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(twoPass == exact)
    assert(exact.nonEmpty)
  }

  test("native hist_quantiles equals the frame sketch+estimate exactly, per group") {
    import spark.implicits._
    val df = spark.range(0, 20000).select(
      concat(lit("g"), (col("id") % 3).cast("string")).as("g"),
      ((col("id") * 7919) % 640).cast("double").as("v")).repartition(11)
    val qs = Seq(0.5, 0.9, 0.99)
    val native = df.groupBy("g")
      .agg(graft.functions.HistQuantiles.histQuantiles(col("v"), 0.0, 640.0, 64, qs).as("e"))
      .select(col("g"), posexplode(col("e")).as(Seq("pos", "est")))
      .orderBy("g", "pos").collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    val frame = graft.ops.Quantiles.estimateFromSketch(
        graft.ops.Quantiles.histogramSketch(df, Seq("g"), "v", 0.0, 640.0, 64),
        Seq("g"), 0.0, 640.0, 64, qs)
      .orderBy(col("g"), col("q")).collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(native.length == frame.length)
    native.zip(frame).foreach { case ((g1, _, e1), (g2, e2)) =>
      assert(g1 == g2 && e1 == e2, s"$g1 $e1 vs $g2 $e2")
    }
    // out-of-domain values clamp into edge bins on both paths
    val clamped = df.withColumn("v", col("v") - 1000.0)
    val n1 = clamped.groupBy("g")
      .agg(graft.functions.HistQuantiles.histQuantiles(col("v"), 0.0, 640.0, 64, Seq(0.5)).as("e"))
      .select(explode(col("e"))).orderBy(col("col")).collect().map(_.getDouble(0)).toSeq
    val f1 = graft.ops.Quantiles.estimateFromSketch(
        graft.ops.Quantiles.histogramSketch(clamped, Seq("g"), "v", 0.0, 640.0, 64),
        Seq("g"), 0.0, 640.0, 64, Seq(0.5))
      .orderBy(col("q_est")).collect().map(_.getDouble(2)).toSeq
    assert(n1 == f1)
  }

  test("SQL registration: kmv_distinct / top_freq / hist_quantiles resolve and agree") {
    val df = words(8000, 2)
    df.createOrReplaceTempView("sketch_sql_words")
    val kmv = spark.sql(
      "SELECT lang, kmv_distinct(word, 256) AS e FROM sketch_sql_words GROUP BY lang ORDER BY lang")
      .collect().map(_.getDouble(1)).toSeq
    val kmvApi = df.groupBy("lang")
      .agg(graft.functions.KmvDistinct.kmvDistinct(col("word"), 256).as("e"))
      .orderBy("lang").collect().map(_.getDouble(1)).toSeq
    assert(kmv == kmvApi)
    val hh = spark.sql(
      "SELECT top_freq(word, 50) FROM sketch_sql_words").head().getSeq[String](0)
    assert(hh.nonEmpty && hh.size <= 50)
    val q = spark.sql(
      "SELECT lang, hist_quantiles(CAST(length(word) AS DOUBLE), 0.0, 20.0, 20, 0.5, 0.9) AS e " +
        "FROM sketch_sql_words GROUP BY lang ORDER BY lang").collect()
    assert(q.length == 2 && q.forall(_.getSeq[Double](1).size == 2))
  }

  test("nulls are ignored, empty group estimates 0") {
    import spark.implicits._
    val df = Seq(("a", Some("x")), ("a", None), ("a", Some("y")), ("b", None))
      .toDF("g", "word")
    val out = df.groupBy("g").agg(HllDistinct.hllDistinct(col("word"), 9).as("e"))
      .orderBy("g").collect()
    assert(math.round(out(0).getDouble(1)) == 2L)
    assert(out(1).getDouble(1) == 0.0)
  }

  test("hist_quantiles NaN policy: top bin on both native and frame paths") {
    import spark.implicits._
    // the frame twin's least(greatest(floor(NaN),0),nBins-1) resolves
    // to the TOP bin under Spark's NaN-is-largest ordering; the native
    // aggregate must bin identically or the shared-oracle contract
    // breaks on NaN-bearing data
    val df = Seq(1.0, 2.0, 3.0, Double.NaN, Double.NaN)
      .toDF("v").withColumn("g", lit("g0")).repartition(3)
    val native = df.groupBy("g")
      .agg(graft.functions.HistQuantiles.histQuantiles(col("v"), 0.0, 10.0, 10, Seq(0.9)).as("e"))
      .select(explode(col("e"))).collect().map(_.getDouble(0)).toSeq
    val frame = graft.ops.Quantiles.estimateFromSketch(
        graft.ops.Quantiles.histogramSketch(df, Seq("g"), "v", 0.0, 10.0, 10),
        Seq("g"), 0.0, 10.0, 10, Seq(0.9))
      .collect().map(_.getDouble(2)).toSeq
    assert(native == frame, s"native $native vs frame $frame")
    // and the q=0.9 estimate falls in the top bin [9, 10): the two
    // NaNs are 40% of the mass at the top of the order
    assert(native.head >= 9.0 && native.head < 10.0)
  }

  test("pos_bitmap equals DeletionVector.fromPositions across partial/final merges") {
    import spark.implicits._
    import graft.functions.PosBitmap
    import graft.sources.segment.DeletionVector
    // several groups, scattered positions with duplicates, position 0,
    // and wide gaps (the bitmap must trim to the max set bit, and the
    // OR-merge across map partials must not lose or invent bits)
    val rows = (0 until 5000).map(i =>
      (s"seg${i % 7}", math.abs((i.toLong * 2654435761L) % 100000L))) ++
      Seq(("seg0", 0L), ("seg1", 0L), ("seg0", 0L))
    val df = rows.toDF("seg", "pos").repartition(9) // force partial + final
    val got = df.groupBy("seg").agg(PosBitmap.posBitmap(col("pos")).as("bits"))
      .as[(String, Array[Byte])].collect().toMap
    val want = rows.groupBy(_._1).map { case (s, ps) =>
      s -> DeletionVector.fromPositions(ps.map(_._2).distinct)
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (s, bytes) =>
      val w = PosBitmap.decode(bytes)
      // fromPositions sizes by the max position's word; toBytes trims
      // trailing zeros — identical extents by construction
      assert(w.toSeq == want(s).toSeq, s"bitmap mismatch for $s")
      assert(DeletionVector.cardinality(w) ==
        rows.filter(_._1 == s).map(_._2).distinct.size)
    }
  }
}
