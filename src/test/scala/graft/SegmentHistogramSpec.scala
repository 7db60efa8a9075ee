package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.segment.{GraftCatalog, SegmentHistogram, SegmentLog}

/** The manifest-resident value-frequency histogram ([[SegmentHistogram]]):
  * exact bounded collection, associative merge, the equi-height
  * conversion catalyst reads skew from, the commit-time pre-merge, and
  * the DDL hygiene (rename/drop/widen) the other manifest statistics
  * already honor. The CBO consumption proof lives in [[HistCboSpec]]. */
class SegmentHistogramSpec extends SparkSpec {

  private val Fmt = "graft-segment"
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // --- sketch unit behavior ---------------------------------------------

  test("collector counts exactly, poisons past the distinct cap") {
    val c = new SegmentHistogram.Collector
    Seq(5L, 3L, 5L, 5L, 3L, 9L).foreach(c.add)
    val m = SegmentHistogram.decode(c.base64.get)
    assert(m.toSeq == Seq((3L, 2L), (5L, 3L), (9L, 1L)))

    val over = new SegmentHistogram.Collector
    (0 until SegmentHistogram.MaxDistinct).foreach(i => over.add(i.toLong))
    assert(over.base64.isDefined, "at the cap is still exact")
    over.add(-1L) // one past the cap
    assert(over.base64.isEmpty, "overflow poisons — absent beats approximate")
    over.add(3L) // later adds stay no-ops
    assert(over.base64.isEmpty)
  }

  test("merge sums counts; segment order is irrelevant; cap bails to None") {
    val a = Array((1L, 2L), (5L, 1L))
    val b = Array((1L, 1L), (7L, 4L))
    val ab = SegmentHistogram.merge(Seq(a, b)).get
    assert(ab.toSeq == Seq((1L, 3L), (5L, 1L), (7L, 4L)))
    assert(SegmentHistogram.merge(Seq(b, a)).get.toSeq == ab.toSeq)

    val big = (0 until SegmentHistogram.MaxDistinctMerged)
      .map(i => (i.toLong, 1L)).toArray
    assert(SegmentHistogram.merge(Seq(big)).isDefined)
    assert(SegmentHistogram.merge(Seq(big, Array((-1L, 1L)))).isEmpty,
      "merged overflow drops the table-level statistic")
  }

  test("encode/decode roundtrip preserves values, counts and order") {
    val m = Array((Long.MinValue, 1L), (-7L, 3L), (0L, 9L), (Long.MaxValue, 2L))
    assert(SegmentHistogram.decode(SegmentHistogram.encode(m)).toSeq == m.toSeq)
  }

  test("equi-height: uniform data spreads bins; a heavy value occupies its mass in bins") {
    // uniform 128 distinct × 4 rows → 64 bins, height 8, 2 distinct/bin
    val uniform = (0 until 128).map(i => (i.toLong, 4L)).toArray
    val (h, bins) = SegmentHistogram.toEquiHeight(uniform)
    assert(h == 8.0 && bins.length == 64)
    assert(bins.forall(_._3 <= 2), "uniform bins hold <= 2 distinct values")
    assert(bins.head._1 == 0.0 && bins.last._2 == 127.0)
    // consecutive bins share endpoints (catalyst's percentile shape)
    bins.sliding(2).foreach { case Array(p, n) => assert(p._2 == n._1) }

    // skew: value 0 carries 90% of the mass → it occupies ~90% of bins
    // (lo == hi == 0), which is exactly what FilterEstimation's
    // equality-by-histogram reads the true frequency from
    val skew = Array((0L, 900L)) ++ (1 to 100).map(i => (i.toLong, 1L))
    val (_, sb) = SegmentHistogram.toEquiHeight(skew)
    val heavy = sb.count(b => b._1 == 0.0 && b._2 == 0.0)
    assert(heavy >= 56 && heavy <= 60, // 0.9 * 64 = 57.6
      s"the heavy value should span ~90% of 64 bins, got $heavy")
    assert(sb.map(_._3).sum >= 101 - 64, "per-bin ndv stays plausible")
  }

  test("equi-height: decimal bounds render via Decimal.toDouble, matching the literal path") {
    // unscaled past 2^53: toDouble-then-divide double-rounds, while
    // FilterEstimation renders the min/max/histogram literals through
    // Decimal#toDouble (= BigDecimal ground truth) — a bound computed
    // the other way can land 1 ULP off and push an on-edge literal
    // outside its bin
    val l = 9007199254740993L // 2^53 + 1
    val render = (u: Long) => org.apache.spark.sql.types.Decimal(u, 18, 2).toDouble
    val freq = Array((l, 5L), (l + 1000L, 5L))
    val (_, bins) = SegmentHistogram.toEquiHeight(freq, render = render)
    assert(bins.head._1 == render(l) && bins.last._2 == render(l + 1000L))
    // the render agrees with the exact decimal value, correctly rounded
    assert(render(l) ==
      new java.math.BigDecimal(java.math.BigInteger.valueOf(l), 2).doubleValue)
    // default render (integer family) stays the identity toDouble
    val (_, ib) = SegmentHistogram.toEquiHeight(Array((7L, 1L), (9L, 1L)))
    assert(ib.head._1 == 7.0 && ib.last._2 == 9.0)
  }

  test("discrete quantile: value at row ceil(q*N), skew-exact, endpoint-safe") {
    // 10 rows: value 5 x7, then 8 x2, then 100 x1
    val freq = Array((5L, 7L), (8L, 2L), (100L, 1L))
    assert(SegmentHistogram.quantile(freq, 0.0) == 5L) // target floors at row 1
    assert(SegmentHistogram.quantile(freq, 0.5) == 5L) // row 5
    assert(SegmentHistogram.quantile(freq, 0.7) == 5L) // row 7
    assert(SegmentHistogram.quantile(freq, 0.71) == 8L) // row 8
    assert(SegmentHistogram.quantile(freq, 0.9) == 8L) // row 9
    assert(SegmentHistogram.quantile(freq, 0.91) == 100L) // row 10
    assert(SegmentHistogram.quantile(freq, 1.0) == 100L)
    intercept[IllegalArgumentException](SegmentHistogram.quantile(freq, 1.5))
  }

  test("quantiles procedure: request validation is uniform, independent of table state") {
    val wh = tmp("graft-hist-quant")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      // EMPTY table (no merged maps): a bad q must still refuse — an
      // empty frame for q=1.7 would read as a plausible answer
      spark.sql(s"CREATE TABLE $cat.db.t (k INT) TBLPROPERTIES ('histFor'='k')")
      val bad = intercept[Exception](
        spark.sql(s"CALL $cat.system.quantiles('db.t', '1.7')").collect())
      assert(bad.getMessage.contains("[0,1]"), bad.getMessage)
      val nan = intercept[Exception](
        spark.sql(s"CALL $cat.system.quantiles('db.t', '0.5,abc')").collect())
      assert(nan.getMessage.contains("quantiles"), nan.getMessage)
      // valid q on the empty table: empty frame, no error
      assert(spark.sql(s"CALL $cat.system.quantiles('db.t', '0.5')").collect().isEmpty)
      // and the populated happy path serves the exact discrete rule
      spark.sql(s"INSERT INTO $cat.db.t " +
        "SELECT CAST(CASE WHEN id % 4 < 3 THEN 5 ELSE 9 END AS INT) FROM range(0, 100)")
      val rows = spark.sql(s"CALL $cat.system.quantiles('db.t', '0.5,0.9')")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      assert(rows.toSet == Set(("k", 0.5, 5L), ("k", 0.9, 9L)), rows.mkString(","))
    }
  }

  test("declaration gate: unsupported types and unknown columns refuse loudly") {
    import org.apache.spark.sql.types._
    val sc = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("x", DoubleType),
      StructField("meta", StructType(Seq(StructField("code", IntegerType))))))
    assert(SegmentHistogram.parseCols("k,meta.code", Some(sc)) == Set("k", "meta.code"))
    // STRING is declarable since r16 (the engine-local arm) …
    assert(SegmentHistogram.parseCols("s", Some(sc)) == Set("s"))
    // … but floats and unknown columns still refuse
    intercept[IllegalArgumentException](SegmentHistogram.parseCols("x", Some(sc)))
    intercept[IllegalArgumentException](SegmentHistogram.parseCols("nope", Some(sc)))
  }

  // --- the STRING arm (r16) ---------------------------------------------

  test("string collector: exact counts in UTF-8 byte order; poisons on cap and oversize") {
    val c = new SegmentHistogram.StringCollector
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    Seq("fr", "de", "fr", "fr", "été", "de").foreach(s => c.add(u(s)))
    val m = SegmentHistogram.decodeStr(c.base64.get)
    // byte order: 'd' < 'f' < 0xC3 (the é lead byte) — ASCII first
    assert(m.map { case (v, n) => (v.toString, n) }.toSeq ==
      Seq(("de", 2L), ("fr", 3L), ("été", 1L)))

    // code point order, not UTF-16 code unit order: U+FFFF sorts BELOW
    // U+10000 in UTF-8 bytes (Java String order would flip them)
    val bmpMax = new String(Character.toChars(0xFFFF))
    val supp = new String(Character.toChars(0x10000))
    assert(bmpMax.compareTo(supp) > 0, "UTF-16 order flips them (the trap)")
    val ord = new SegmentHistogram.StringCollector
    Seq(supp, bmpMax).foreach(s => ord.add(u(s)))
    val keys = SegmentHistogram.decodeStr(ord.base64.get).map(_._1.toString)
    assert(keys.toSeq == Seq(bmpMax, supp), "stored order is code point order")

    // distinct cap: poison past MaxDistinct, exact at it
    val over = new SegmentHistogram.StringCollector
    (0 until SegmentHistogram.MaxDistinct).foreach(i => over.add(u(s"v$i")))
    assert(over.base64.isDefined, "at the cap is still exact")
    over.add(u("one-past"))
    assert(over.base64.isEmpty, "past the cap: absent, never approximate")

    // value-size cap: one oversized value poisons the whole map
    val big = new SegmentHistogram.StringCollector
    big.add(u("ok"))
    big.add(u("x" * (SegmentHistogram.MaxStringBytes + 1)))
    big.add(u("ok"))
    assert(big.base64.isEmpty, "an oversized key poisons the segment map")
    // multi-byte chars count in BYTES: 33 × é = 66 bytes > 64
    val mb = new SegmentHistogram.StringCollector
    mb.add(u("é" * 33))
    assert(mb.base64.isEmpty, "the cap is bytes, not chars")
  }

  test("string encode/decode roundtrip; merge is exact, bails at the merged cap") {
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val m1 = Array((u(""), 2L), (u("ascii"), 5L), (u("été"), 7L))
    assert(SegmentHistogram.decodeStr(SegmentHistogram.encodeStr(m1)).toSeq == m1.toSeq)

    // merge adds counts; result stays byte-ordered
    val m2 = Array((u("ascii"), 1L), (u("zz"), 4L))
    val merged = SegmentHistogram.mergeStr(Seq(m1, m2)).get
    assert(merged.map { case (v, n) => (v.toString, n) }.toSeq ==
      Seq(("", 2L), ("ascii", 6L), ("été", 7L), ("zz", 4L))
        .sortBy(_._1)) // ASCII-only keys: string order = byte order
    // cap bail: MaxDistinctMerged+1 distinct values → None
    val wide = (0 to SegmentHistogram.MaxDistinctMerged)
      .map(i => Array((u(s"k$i"), 1L))).toSeq
    assert(SegmentHistogram.mergeStr(wide).isEmpty)
  }

  test("string quantile: the same discrete rule over byte order") {
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    // 10 rows: "de" x7, "en" x2, "fr" x1
    val freq = Array((u("de"), 7L), (u("en"), 2L), (u("fr"), 1L))
    assert(SegmentHistogram.quantileStr(freq, 0.5).toString == "de")
    assert(SegmentHistogram.quantileStr(freq, 0.71).toString == "en")
    assert(SegmentHistogram.quantileStr(freq, 1.0).toString == "fr")
    intercept[IllegalArgumentException](SegmentHistogram.quantileStr(freq, -0.1))
  }

  test("CALL face under deletion vectors: exact=false with pre-delete mass, compaction restores both") {
    val wh = tmp("graft-hist-dv")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k INT, tag STRING) " +
        "TBLPROPERTIES ('histFor'='k,tag')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT CAST(id % 5 AS INT), " +
        "concat('t', id % 3) FROM range(0, 300)")
      def hist() = spark.sql(s"CALL $cat.system.histogram('db.t')").collect()
        .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)),
          r.getLong(3), r.getBoolean(4)))
      // dv-free: exact, post-insert truth
      assert(hist().forall(_._5), "no dvs: exact = true")
      assert(hist().filter(_._1 == "k").map(_._4).sum == 300L)

      spark.sql(s"CALL $cat.system.delete_mark('db.t', 'k = 0')").collect()
      // the maps still hold the PRE-delete mass — annotated, not silent
      val dv = hist()
      assert(dv.forall(!_._5), "live dvs: exact = false on every row")
      assert(dv.filter(_._1 == "k").map(_._4).sum == 300L, "pre-delete mass served")
      // quantiles carries the same flag
      assert(spark.sql(s"CALL $cat.system.quantiles('db.t', '0.5')")
        .collect().forall(!_.getBoolean(4)))

      // materializing the vectors rewrites the dv'd segments: collectors
      // re-run on live rows, exact returns, counts are post-delete truth
      spark.sql(s"CALL $cat.system.compact_deletes('db.t')").collect()
      val after = hist()
      assert(after.forall(_._5), "post-compaction: exact = true")
      assert(after.filter(_._1 == "k").map(_._4).sum == 240L,
        "counts now reflect the delete")
      assert(!after.exists(t => t._1 == "k" && t._2.contains(0L)),
        "the deleted value is gone from the map")
    }
  }

  test("CALL graft.system.salts: derived fan-out from either map arm, fallback annotated") {
    val wh = tmp("graft-hist-salts")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, tag STRING, u BIGINT) " +
        "TBLPROPERTIES ('histFor'='k,tag')")
      // k: 900 hot by the modulo + id=7 itself lands in the else-branch
      // as another 7 → 901; tag: 1080 hot
      spark.sql(s"INSERT INTO $cat.db.t SELECT " +
        "CASE WHEN id % 4 < 3 THEN 7 ELSE id END, " + // long arm, 901 hot
        "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('c', id) END, " + // 1080 hot
        "id FROM range(0, 1200)")
      def salts(c: String, target: Long) =
        spark.sql(s"CALL $cat.system.salts('db.t', '$c', $target)")
          .collect()(0) match { case r => (r.getInt(0), r.getBoolean(1)) }
      assert(salts("k", 100L) == (10, true)) // ceil(901/100)
      assert(salts("tag", 100L) == (11, true)) // ceil(1080/100) — string arm
      assert(salts("u", 100L) == (8, false), "undeclared: fallback, annotated")
      // explicit fallback/max_salts ride the trailing defaults
      val r = spark.sql(s"CALL $cat.system.salts('db.t', 'u', 100, 3)")
        .collect()(0)
      assert(r.getInt(0) == 3 && !r.getBoolean(1))
      val clamped = spark.sql(s"CALL $cat.system.salts('db.t', 'k', 1, 8, 16)")
        .collect()(0)
      assert(clamped.getInt(0) == 16 && clamped.getBoolean(1), "max_salts clamps")

      // request validation BEFORE table state (the quantiles doctrine):
      // a zero fan-out would make the salted join silently empty
      for (bad <- Seq(s"CALL $cat.system.salts('db.t', 'k', 0)",
          s"CALL $cat.system.salts('db.t', 'k', 100, 0)",
          s"CALL $cat.system.salts('db.t', 'k', 100, 8, 0)")) {
        val e = intercept[Exception](spark.sql(bad).collect())
        assert(e.getMessage.contains("must be"), s"$bad: ${e.getMessage}")
      }
      // dv honesty: derived mass is PRE-delete until compaction — exact
      // flips false, like histogram/quantiles
      assert(spark.sql(s"CALL $cat.system.salts('db.t', 'k', 100)")
        .collect()(0).getBoolean(2), "dv-free: exact")
      spark.sql(s"CALL $cat.system.delete_mark('db.t', 'k = 7')").collect()
      val dv = spark.sql(s"CALL $cat.system.salts('db.t', 'k', 100)").collect()(0)
      assert(dv.getInt(0) == 10 && !dv.getBoolean(2),
        "pre-delete mass served, annotated")
    }
  }

  test("CALL graft.system.join_estimate: exact zero-scan join counts, honesty paths") {
    val wh = tmp("graft-hist-jest")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT, tag STRING, u BIGINT) " +
        "TBLPROPERTIES ('histFor'='k,tag')")
      spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, tag STRING, u BIGINT) " +
        "TBLPROPERTIES ('histFor'='k,tag')")
      spark.sql(s"INSERT INTO $cat.db.a SELECT " +
        "CASE WHEN id % 4 < 3 THEN 7 ELSE id % 11 END, " +
        "concat('c', id % 5), id FROM range(0, 1200)")
      spark.sql(s"INSERT INTO $cat.db.b SELECT id % 13, " +
        "concat('c', id % 8), id FROM range(0, 400)")
      def est(ca: String, cb: String) =
        spark.sql(s"CALL $cat.system.join_estimate('db.a','$ca','db.b','$cb')")
          .collect()(0)
      // the metadata count IS the actual inner-join count, both arms
      val actualK = spark.sql(
        s"SELECT count(*) FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k")
        .collect()(0).getLong(0)
      val rK = est("k", "k")
      assert(rK.getLong(0) == actualK && rK.getBoolean(1) && rK.getBoolean(2))
      val actualT = spark.sql(
        s"SELECT count(*) FROM $cat.db.a a JOIN $cat.db.b b ON a.tag = b.tag")
        .collect()(0).getLong(0)
      val rT = est("tag", "tag")
      assert(rT.getLong(0) == actualT && rT.getBoolean(1))
      // honesty: undeclared on either side -> NULL, never a guess;
      // a cross-arm request (long vs string) has no joinable map pair
      assert(est("u", "k").isNullAt(0) && !est("u", "k").getBoolean(1))
      assert(est("k", "u").isNullAt(0) && !est("k", "u").getBoolean(1))
      assert(est("k", "tag").isNullAt(0) && !est("k", "tag").getBoolean(1),
        "cross-arm: no sane equi-join to size")
      // dv honesty: pre-delete mass until compaction, annotated
      spark.sql(s"CALL $cat.system.delete_mark('db.b', 'k = 7')").collect()
      val dv = est("k", "k")
      assert(dv.getLong(0) == actualK && !dv.getBoolean(2),
        "pre-delete mass served, exact=false")
    }
  }

  test("CALL graft.system.mixture_rates: temperature rates off either arm, honesty paths") {
    val wh = tmp("graft-hist-mixr")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, tag STRING, u BIGINT) " +
        "TBLPROPERTIES ('histFor'='k,tag')")
      // tag: 900 'hot', 100 spread over c0..c2 (ids ending in 9 are odd,
      // so a mod-4 tail would never hit even residues — mod 3 covers)
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, " +
        "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('c', id % 3) END, " +
        "id FROM range(0, 1000)")
      def rates(c: String, alpha: Double) =
        spark.sql(s"CALL $cat.system.mixture_rates('db.t', '$c', $alpha)")
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val half = rates("tag", 0.5)
      val nMin = half.values.map(_._1).min
      assert(half.find(_._2._1 == nMin).get._2._2 == 1.0,
        "the smallest source is never downsampled")
      assert(math.abs(half("hot")._2 - math.sqrt(nMin.toDouble / 900)) < 1e-12,
        "alpha=0.5: the closed form sqrt(n_min/n)")
      assert(rates("tag", 1.0).values.forall(_._2 == 1.0),
        "alpha=1: natural proportions, the mixture is a no-op")
      // the long arm serves too (values rendered as strings); uniform
      // distinct ids -> every rate 1.0 at any alpha
      assert(rates("k", 0.0).values.forall(v => v._1 == 1L && v._2 == 1.0))
      // honesty: alpha validated BEFORE table state; undeclared fails
      // diagnosably (no honest fallback rate exists)
      for (bad <- Seq(s"CALL $cat.system.mixture_rates('db.t', 'tag', 1.5)",
          s"CALL $cat.system.mixture_rates('db.t', 'u', 0.5)")) {
        intercept[Exception](spark.sql(bad).collect())
      }
      // dv honesty: pre-delete mass until compaction, annotated
      assert(spark.sql(s"CALL $cat.system.mixture_rates('db.t', 'tag', 0.5)")
        .collect().forall(_.getBoolean(3)))
      spark.sql(s"CALL $cat.system.delete_mark('db.t', 'k = 7')").collect()
      assert(spark.sql(s"CALL $cat.system.mixture_rates('db.t', 'tag', 0.5)")
        .collect().forall(!_.getBoolean(3)), "exact flips under a live dv")
    }
  }

  test("string maps reach struct fields: dotted histFor on a nested string") {
    val dir = tmp("graft-shist-nested")
    spark.range(0, 1000)
      .select(col("id"),
        struct(concat(lit("l"), col("id") % 5).as("lang"),
          (col("id") % 3).cast("int").as("b")).as("meta"))
      .repartition(2)
      .write.format(Fmt).option("histFor", "meta.lang").mode("append").save(dir)
    val m = SegmentLog.read(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir).get
    val got = graft.sources.segment.SegmentHistogram
      .decodeStr(m.shistMerged("meta.lang"))
      .map { case (v, n) => v.toString -> n }.toMap
    assert(got == (0 until 5).map(i => s"l$i" -> 200L).toMap)
    assert(m.segments.forall(_.stats("meta.lang").shist.isDefined))
  }

  test("string maps end to end: manifest pre-merge, CALL face, exact distinctCount, DDL hygiene") {
    val dir = tmp("graft-shist")
    def write(lo: Int, hi: Int): Unit =
      spark.range(lo, hi)
        .select(concat(lit("tag"), col("id") % 7).as("t"), col("id").as("v"))
        .repartition(3)
        .write.format(Fmt).option("histFor", "t").mode("append").save(dir)
    write(0, 3000)
    write(3000, 4000) // append-only fast path
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, dir).get
    // the manifest map IS the exact group-by answer
    val got = SegmentHistogram.decodeStr(m.shistMerged("t"))
      .map { case (v, n) => v.toString -> n }.toMap
    val want = spark.read.format(Fmt).load(dir)
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(m.segments.forall(_.stats("t").shist.isDefined))
    // numeric arm stays separate: no long-map entry for a string column
    assert(!m.histMerged.contains("t"))

    // DSv2 statistics face: the map length is an EXACT distinctCount
    val savedCbo = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val plan = spark.read.format(Fmt).load(dir).select("t", "v")
        .queryExecution.optimizedPlan
      val st = plan.stats.attributeStats.find(_._1.name == "t").map(_._2)
      assert(st.exists(_.distinctCount.exists(_.longValue == 7L)),
        s"string histFor must feed distinctCount, got $st")
    } finally savedCbo match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }

    // rename follows (logical view), drop sheds in the same commit
    SegmentLog.renameColumn(fs, dir, "t", "tag")
    val lg = SegmentLog.logicalView(SegmentLog.read(fs, dir).get)
    assert(lg.shistMerged.contains("tag") && !lg.shistMerged.contains("t"))
    SegmentLog.dropColumn(fs, dir, "tag")
    assert(SegmentLog.read(fs, dir).get.shistMerged.isEmpty,
      "DROP sheds the string entry in the same commit")
  }

  // --- the table format end to end --------------------------------------

  test("commits pre-merge the table map; it equals a from-scratch GROUP BY; appends extend it") {
    val dir = tmp("graft-hist-premerge")
    def write(lo: Int, hi: Int): Unit =
      spark.range(lo, hi)
        .select((col("id") % 10).as("k"), col("id").as("v"))
        .repartition(3)
        .write.format(Fmt).option("histFor", "k").mode("append").save(dir)
    write(0, 5000)
    write(5000, 7000) // second commit: the append-only fast path
    val m = SegmentLog.read(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir).get
    val got = SegmentHistogram.decode(m.histMerged("k")).toMap
    val want = spark.read.format(Fmt).load(dir)
      .groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "the manifest map IS the exact group-by answer")
    // and the per-segment presence guard held: every segment sketched
    assert(m.segments.forall(_.stats("k").hist.isDefined))
  }

  test("DDL hygiene: rename follows, drop sheds in the same commit, widen keeps int->long") {
    val dir = tmp("graft-hist-ddl")
    spark.range(0, 1000)
      .select((col("id") % 7).cast("int").as("k"), col("id").as("v"))
      .write.format(Fmt).option("histFor", "k").mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    def logical = SegmentLog.logicalView(SegmentLog.read(fs, dir).get)

    SegmentLog.renameColumn(fs, dir, "k", "key")
    assert(logical.histMerged.contains("key") && !logical.histMerged.contains("k"),
      "rename translates the merged key (logical view)")

    // widen int->long: the long canonical is value-invariant — every
    // stored map survives (the path API declared per-write, so there
    // is no table property to keep; presence is the ground truth)
    SegmentLog.widenColumn(fs, dir, "key", org.apache.spark.sql.types.LongType)
    assert(logical.histMerged.contains("key"))

    SegmentLog.dropColumn(fs, dir, "key")
    assert(SegmentLog.read(fs, dir).get.histMerged.isEmpty,
      "DROP COLUMN sheds the merged entry in the SAME commit")
  }

  test("widening out of the supported family retires the declaration") {
    val wh = tmp("graft-hist-widen")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k INT, n INT, money DECIMAL(12,2)) " +
        "TBLPROPERTIES ('histFor' = 'k,n,money')")
      spark.sql(s"INSERT INTO $cat.db.t " +
        "SELECT CAST(id % 5 AS INT), CAST(id % 9 AS INT), " +
        "CAST(id % 7 AS DECIMAL(12,2)) FROM range(0, 200)")
      val f = SegmentLog.fs(s"$wh/db/t", spark.sessionState.newHadoopConf())
      def m() = SegmentLog.read(f, s"$wh/db/t").get
      assert(m().histMerged.keySet == Set("k", "n", "money"))
      // int->long keeps (long canonical is value-invariant)
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN k TYPE BIGINT")
      assert(m().props("histFor").split(",").toSet == Set("k", "n", "money"))
      // decimal precision growth at unchanged scale keeps too (the
      // unscaled long is invariant)...
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN money TYPE DECIMAL(16,2)")
      assert(m().props("histFor").split(",").toSet == Set("k", "n", "money"))
      // ...but growth PAST 18 digits loses the exact long canonical
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN money TYPE DECIMAL(22,2)")
      assert(m().props("histFor").split(",").toSet == Set("k", "n"),
        s"widen past 18 digits must drop money, got ${m().props.get("histFor")}")
      // int->double: no supported canonical — the widen retires it
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN n TYPE DOUBLE")
      assert(m().props("histFor").split(",").toSet == Set("k"),
        s"widen must drop n from histFor, got ${m().props.get("histFor")}")
    }
  }

  test("a high-cardinality column overflows honestly: absent, never approximate") {
    val dir = tmp("graft-hist-overflow")
    spark.range(0, 10000) // 10k distinct > per-segment cap
      .select(col("id").as("k"))
      .coalesce(1)
      .write.format(Fmt).option("histFor", "k").mode("append").save(dir)
    val m = SegmentLog.read(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir).get
    assert(m.histMerged.isEmpty, "no table-level entry")
    assert(m.segments.forall(_.stats("k").hist.isEmpty), "no per-segment map")
  }

  test("DECIMAL histograms: unscaled-long maps, value-domain bins, exact ndv, range estimate") {
    val dir = tmp("graft-hist-dec")
    // price points: 85% of rows at 9.99, the rest spread over 200
    // other cent values — the classic money-column skew
    spark.range(0, 20000)
      .select(expr("CAST(CASE WHEN id % 20 < 17 THEN 9.99 " +
        "ELSE CAST(id div 20 % 200 AS DECIMAL(8,2)) + 10.50 END " +
        "AS DECIMAL(8,2))").as("price"), col("id").as("v"))
      .write.format(Fmt).option("histFor", "price").mode("append").save(dir)
    // the manifest map stores UNSCALED longs (999 for 9.99)
    val m = SegmentLog.read(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir).get
    val freq = SegmentHistogram.decode(m.histMerged("price")).toMap
    assert(freq(999L) == 17000L, s"unscaled 999 carries the hot mass, got $freq")
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val df = spark.read.format(Fmt).load(dir)
      val pStat = df.queryExecution.optimizedPlan.stats.attributeStats.toSeq
        .collectFirst { case (a, s) if a.name == "price" => s }.get
      assert(pStat.distinctCount.exists(_.toLong == 201L))
      val hist = pStat.histogram.getOrElse(fail("decimal histogram absent"))
      // bins live in the VALUE domain (9.99), not the unscaled one (999)
      val heavy = hist.bins.count(b => b.lo == 9.99 && b.hi == 9.99)
      assert(heavy >= 50, s"expected ~54 hot bins at 9.99, got $heavy")
      // min/max are catalyst Decimals now, so the range path works:
      // price > 10 truly matches 15% of rows; interpolation over
      // [9.99, 209.50] would say ~100%
      val rc = df.filter(col("price") > expr("CAST(10 AS DECIMAL(8,2))"))
        .queryExecution.optimizedPlan.stats.rowCount
      assert(rc.isDefined && rc.get.toLong > 1200 && rc.get.toLong < 7000,
        s"range selectivity should read ~15% from the bins, got $rc")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
    }
  }

  test("the statistics face: catalyst attributeStats carries the equi-height histogram") {
    val dir = tmp("graft-hist-face")
    // 90% of rows at k=0, the rest uniform over 1..100 (id/10 cycles
    // all 100 residues over the ids ending in 9; id%100 would hit 10)
    // histFor ALONE: the frequency map's length feeds distinctCount
    // (exact within caps), so hasCountStats holds and FilterEstimation
    // consults the bins — no ndvFor needed for the statistic to live
    spark.range(0, 10000)
      .select(when(col("id") % 10 < 9, 0L)
        .otherwise(expr("id div 10") % 100 + 1).as("k"), col("id").as("v"))
      .write.format(Fmt).option("histFor", "k").mode("append").save(dir)
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val df = spark.read.format(Fmt).load(dir)
      val stats = df.queryExecution.optimizedPlan.stats
      val kStat = stats.attributeStats.toSeq
        .collectFirst { case (a, s) if a.name == "k" => s }.get
      assert(kStat.distinctCount.exists(_.toLong == 101L),
        s"the map length is the EXACT distinct count, got ${kStat.distinctCount}")
      val hist = kStat.histogram.getOrElse(
        fail("histogram did not reach catalyst ColumnStat"))
      assert(hist.bins.length == 64)
      // the heavy value's bins: lo == hi == 0 over ~90% of them
      val heavy = hist.bins.count(b => b.lo == 0.0 && b.hi == 0.0)
      assert(heavy >= 55, s"expected ~57 heavy bins, got $heavy")
      assert(math.abs(hist.height * hist.bins.length - 10000.0) < 64,
        "height × bins ≈ row count")
      // the RANGE arm (FilterEstimation.computeComparisonPossibility-
      // ByHistogram): k > 0 truly matches 10% of the rows; min/max
      // interpolation alone would estimate (max-0)/(max-min) ≈ 100%.
      // The histogram's bins put the estimate near the truth.
      val rc = df.filter(col("k") > 0)
        .queryExecution.optimizedPlan.stats.rowCount
      assert(rc.isDefined, "cbo filter estimate must produce a rowCount")
      assert(rc.get.toLong > 400 && rc.get.toLong < 2500,
        s"range selectivity should read ~10% from the bins, got ${rc.get}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
    }
  }
}
