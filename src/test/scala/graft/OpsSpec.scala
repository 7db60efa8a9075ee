package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointDirBridge.withCheckpointDir

import graft.ops.{Dedup, Similarity, TextOps}
import graft.plans.{BinnedRangeJoinRule, FuzzyJoinRule}

/** LLM-pipeline operator specs: text analysis, dedup, similarity. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  /** `body` planned without `rule`: the session carries every graft
    * rule, so a test's plain-plan reference excludes the one under
    * test by name. */
  private def withoutRule[T](rule: Class[_])(body: => T): T =
    Session.withConfs(spark, "spark.sql.optimizer.excludedRules" -> rule.getName)(body)

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))

  test("tokenStats counts tokens and chars") {
    val r = TextOps.tokenStats(docs((1L, "a bb ccc"))).collect()(0)
    assert(r.getAs[Int]("n_tokens") === 3)
    assert(r.getAs[Int]("n_chars") === 8)
    assert(math.abs(r.getAs[Double]("avg_token_len") - 2.0) < 1e-9)
  }

  test("binnedOverlapJoin: inclusive bounds, multi-bin pairs emit once, keys isolate") {
    import graft.ops.RangeJoin
    val a = Seq((1L, 10L, 0L, 250L), (1L, 11L, 300L, 450L), (2L, 20L, 0L, 100L))
      .toDF("k", "aid", "a_s", "a_e")
    val b = Seq(
      (1L, 90L, 250L, 500L), // touches aid=10 at exactly 250; shares bins 3 AND 4 with aid=11
      (2L, 91L, 101L, 200L)) // adjacent to aid=20 but not overlapping (100 < 101)
      .toDF("k", "bid", "b_s", "b_e")
    val r = RangeJoin.binnedOverlapJoin(a, "a_s", "a_e", b, "b_s", "b_e", Seq("k"), 100L)
      .select($"aid", $"bid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(r === Seq((10L, 90L), (11L, 90L))) // each pair exactly once, no cross-key rows
  }

  test("AQE re-plans a static sort-merge join to broadcast once the filtered side proves small") {
    // the 100 TB join-strategy contract this engine leans on: static
    // stats cannot see post-filter sizes, so the planner starts with
    // a shuffle join; AQE's runtime stats rewrite it to broadcast.
    // Static broadcast is disabled to force the initial SMJ.
    val c = spark.conf
    val prevStatic = c.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = c.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      val facts = spark.range(100000).selectExpr("id", "id % 512 AS k")
      val dim = spark.range(100000).selectExpr("id AS did", "id % 512 AS k")
        .filter($"did" % 1009 === 0) // ~99 rows, invisible to static stats
      val j = facts.join(dim, "k")
      val initial = j.queryExecution.executedPlan.toString
      assert(initial.contains("SortMergeJoin"),
        s"static plan should be a shuffle join:\n$initial")
      // execute THIS df's plan (count() would plan its own query)
      assert(j.collect().length > 0)
      val fin = j.queryExecution.executedPlan.toString
      assert(fin.contains("isFinalPlan=true") && fin.contains("BroadcastHashJoin"),
        s"AQE should have re-planned to broadcast:\n$fin")
    } finally {
      c.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      prevAdaptive match {
        case Some(v) => c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => c.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // the other half of the runtime-re-plan contract: a hot key that
    // would serialize one reducer is split into parallel sub-joins.
    // Manual salting (rel_join_salted) remains for aggregation skew;
    // for JOIN skew the engine leans on AQE, certified here.
    val c = spark.conf
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> c.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        c.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        c.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        c.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // skew split applies to SMJ
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "131072")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      val left = spark.range(400000)
        .selectExpr("id", "CASE WHEN id % 4 < 3 THEN 7 ELSE id END AS k") // 75% on key 7
      val right = spark.range(1000).selectExpr("id AS rid", "id AS k")
      val j = left.join(right, "k")
      assert(j.collect().length > 0)
      val fin = j.queryExecution.executedPlan.toString
      assert(fin.contains("skew=true"),
        s"expected the skewed partition split at runtime:\n$fin")
    } finally prev.foreach { case (k, v) => c.set(k, v) }
  }

  test("embeddingShift: identical corpora read cos 1 / shift 0; a planted offset moves both") {
    import graft.ops.Drift
    val vecs = (1L to 40L).map(i =>
      (i, Array(1.0f + (i % 5), 2.0f - (i % 3), 0.5f * (i % 7), 1.0f)))
      .toDF("vec_id", "embedding")
    val same = Drift.embeddingShift(vecs, vecs).collect()(0)
    assert(same.getAs[Int]("n_dims") === 4)
    assert(same.getAs[Double]("cos_means") === 1.0)
    assert(same.getAs[Double]("shift_ratio") === 0.0)
    // shift every dimension by +1: centroid moves, cosine drops below 1
    val shifted = vecs.select($"vec_id",
      transform($"embedding", v => v + lit(1.0f)).as("embedding"))
    val r = Drift.embeddingShift(vecs, shifted).collect()(0)
    assert(r.getAs[Double]("shift_ratio") > 0.2)
    assert(r.getAs[Double]("cos_means") < 1.0 && r.getAs[Double]("cos_means") > 0.8)
  }

  test("stripMarkup: block content dies, tags strip, entities decode once, order-safe") {
    def strip(s: String): String =
      docs((1L, s)).select(TextOps.stripMarkup($"text").as("t"))
        .collect()(0).getString(0)
    // script/style CONTENT is removed; other tag content survives
    assert(strip("<p>keep</p><script>drop();</script><style>p{}</style>done") === "keep done")
    // multi-line script with attributes
    assert(strip("a<script type=\"x\">\nline1\nline2</script>b") === "a b")
    // entities decode exactly once: &amp;lt; is a LITERAL "&lt;"
    assert(strip("1 &lt; 2 &amp;&amp; x &amp;lt; y") === "1 < 2 && x &lt; y")
    assert(strip("say &quot;hi&#39;s&quot;") === "say \"hi's\"")
    // tag soup + whitespace collapse + trim
    assert(strip("  <div><b>bold</b>\n\ttext</div>  ") === "bold text")
  }

  test("normalize folds case, strips invisibles, collapses whitespace") {
    val raw = "Hello\u200B  WORLD\tand\u00AD more  "
    val r = docs((1L, raw))
      .select(TextOps.normalize($"text").as("nt")).collect()(0).getString(0)
    assert(r === "hello world and more")
    // canonically-equal variants now share one exact-dedup hash
    val d = docs((1L, "Spark  Engine"), (2L, "spark engine\u200B"))
      .withColumn("text", TextOps.normalize($"text"))
    assert(Dedup.exactDedupGroups(d).count() === 1)
  }

  test("shingles produce n-2 trigrams; short docs give empty set") {
    val r = docs((1L, "a b c d"), (2L, "a b"))
      .select($"doc_id", TextOps.shingles(TextOps.tokens($"text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(r(1L) === Seq("a b c", "b c d"))
    assert(r(2L) === Seq.empty)
  }

  test("exact dedup groups identical texts under one hash") {
    val g = Dedup.exactDedupGroups(docs((1L, "same text here"), (2L, "same text here"), (3L, "different")))
    val byCopies = g.collect().map(r => r.getAs[Long]("n_copies")).sorted
    assert(byCopies === Array(1L, 2L))
    val dup = g.filter($"n_copies" === 2).collect()(0)
    assert(dup.getAs[Long]("keeper_doc_id") === 1L)
  }

  test("jaccard pairs find near-duplicates via shared shingles, not all pairs") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely unrelated text with different words entirely"))
    val pairs = Dedup.jaccardPairs(d, 10).collect()
    assert(pairs.length === 1) // only 1-2 share shingles; 3 never joins
    val p = pairs(0)
    assert(p.getAs[Long]("doc_a") === 1L && p.getAs[Long]("doc_b") === 2L)
    assert(p.getAs[Double]("jaccard") > 0.5)
  }

  test("identical docs collide in every minhash band") {
    val d = docs((1L, "one two three four five"), (2L, "one two three four five"))
    val buckets = Dedup.minhashBuckets(d, 4)
    assert(buckets.filter($"n_docs" === 2).count() === 4)
  }

  test("cosine similarity: identical=1, orthogonal=0") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f), "same"),
      (Seq(1f, 0f), Seq(0f, 1f), "orth")).toDF("a", "b", "tag")
      .select($"tag", Similarity.cosine($"a", $"b").as("sim"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m("same") - 1.0) < 1e-12)
    assert(math.abs(m("orth")) < 1e-12)
  }

  test("brute-force topk ranks by similarity with deterministic tiebreak") {
    val corpus = Seq(
      (10L, Seq(1f, 0f), 0), (11L, Seq(0.9f, 0.1f), 0), (12L, Seq(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((10L, Seq(1f, 0f))).toDF("q_id", "q_emb")
    val top = Similarity.bruteForceTopK(corpus, queries, 2).orderBy($"rank").collect()
    assert(top.map(_.getAs[Long]("vec_id")).toSeq === Seq(11L, 12L))
  }

  test("lsh bucket join only probes same-bucket candidates") {
    val corpus = Seq(
      (1L, Seq(1f, 1f, 1f, 1f), 0),   // bucket 15
      (2L, Seq(1f, 1f, 1f, -1f), 0),  // bucket 14
      (3L, Seq(0.9f, 0.9f, 0.9f, 0.9f), 0)) // bucket 15
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Seq(1f, 1f, 1f, 1f))).toDF("q_id", "q_emb")
    val res = Similarity.lshTopK(corpus, queries, 5, 4).collect()
    assert(res.map(_.getAs[Long]("vec_id")).toSeq === Seq(3L)) // 2 pruned by bucket
  }

  test("multi-probe finds the boundary neighbor single-probe misses") {
    // the query hugs the first hyperplane (x₁ ≈ 0⁺): its true nearest
    // neighbor differs only in that sign bit and lands in the adjacent
    // bucket. Single-probe is blind to it; the Hamming-1 expansion of
    // multi-probe recovers it as rank 1.
    val corpus = Seq(
      (1L, Seq(-0.01f, 1f), 0), // bucket 01 — near-identical, across the boundary
      (2L, Seq(1f, 0.2f), 0))   // bucket 11 — same bucket as q, far vector
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((9L, Seq(0.01f, 1f))).toDF("q_id", "q_emb") // bucket 11
    val single = Similarity.lshTopK(corpus, queries, 1, 2).collect()
    assert(single.map(_.getAs[Long]("vec_id")).toSeq === Seq(2L)) // misses vec 1
    val multi = Similarity.multiProbeTopK(corpus, queries, 1, 2).collect()
    assert(multi.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L)) // recall restored
    assert(multi(0).getAs[Double]("sim") > 0.99)
  }

  test("salted join returns exactly the plain join's result set") {
    val fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_orderkey", $"l_partkey".as("p_partkey"))
    val dim = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select($"p_partkey", $"p_size")
    val plain = fact.join(dim, Seq("p_partkey"))
    val salted = graft.ops.Skew.saltedJoin(fact, dim, "p_partkey", 8)
    assert(salted.count() === plain.count())
    assert(salted.select($"l_orderkey", $"p_partkey", $"p_size")
      .exceptAll(plain.select($"l_orderkey", $"p_partkey", $"p_size")).isEmpty)
    // COMPOSITE key (r18): the salt hashes the whole tuple; each
    // qualifying pair still meets exactly once
    val factC = fact.withColumn("pmod5", $"p_partkey" % 5)
    val dimC = dim.withColumn("pmod5", $"p_partkey" % 5)
    val plainC = factC.join(dimC, Seq("p_partkey", "pmod5"))
    val saltedC = graft.ops.Skew.saltedJoin(
      factC, dimC, Seq("p_partkey", "pmod5"), 8)
    assert(saltedC.exceptAll(plainC).isEmpty && plainC.exceptAll(saltedC).isEmpty)
    // FACT-PRESERVING left join (r18): unmatched fact rows survive
    // exactly once with null dim columns — the preserved side carries
    // ONE salt, the replicated side is the non-preserved one
    val dimHalf = dim.filter($"p_partkey" % 2 === 0)
    val plainL = fact.join(dimHalf, Seq("p_partkey"), "left")
    val saltedL = graft.ops.Skew.saltedJoin(fact, dimHalf, Seq("p_partkey"), 8, "left")
    assert(saltedL.count() === plainL.count())
    assert(saltedL.select($"l_orderkey", $"p_partkey", $"p_size")
      .exceptAll(plainL.select($"l_orderkey", $"p_partkey", $"p_size")).isEmpty)
    // a PRESERVED dim would replicate null-extended rows — rejected
    intercept[IllegalArgumentException](
      graft.ops.Skew.saltedJoin(fact, dim, Seq("p_partkey"), 8, "right"))
    intercept[IllegalArgumentException](
      graft.ops.Skew.saltedJoin(fact, dim, Seq("p_partkey"), 8, "full"))
  }

  test("auto-salt: fan-out derived from the skew statistic, caller fallback when absent") {
    import graft.ops.Skew
    // the arithmetic: hottest key's mass / target slot rows, clamped
    assert(Skew.saltsFromHistogram(Some(Array(9000L, 100L, 50L)), 8, 375) == 24)
    assert(Skew.saltsFromHistogram(Some(Array(10L, 10L)), 8, 375) == 1,
      "no skew: no split, regardless of the fallback")
    assert(Skew.saltsFromHistogram(Some(Array(Long.MaxValue / 2)), 8, 1) == 64,
      "clamped: dim replication cost bounds the fan-out")
    assert(Skew.saltsFromHistogram(None, 8, 375) == 8,
      "undeclared or overflowed: the caller constant")

    // the manifest path — a declared skewed table derives, its
    // undeclared twin falls back, a STRING key drives the same math
    val base = java.nio.file.Files.createTempDirectory("graft-autosalt").toString
    val fact = spark.range(0, 12000).select(
      when($"id" % 4 < 3, lit(7L)).otherwise($"id" % 97).as("k"), // 9000 hot
      when($"id" % 10 < 9, lit("hot")) // 10800 hot
        .otherwise(concat(lit("c"), $"id" % 7)).as("t"))
    fact.write.format("graft-segment").option("histFor", "k,t")
      .mode("append").save(s"$base/decl")
    fact.write.format("graft-segment").mode("append").save(s"$base/undecl")
    // hot key 7 holds 9000 (id%4<3) + 31 collisions from the
    // otherwise-branch (id ≡ 7 mod 388): ceil(9031/375) = 25
    assert(Skew.saltsForTable(spark, s"$base/decl", "k", 8, 375) == 25)
    assert(Skew.saltsForTable(spark, s"$base/decl", "t", 8, 375) == 29,
      "string-keyed maps drive the same derivation (ceil(10800/375))")
    assert(Skew.saltsForTable(spark, s"$base/undecl", "k", 8, 375) == 8)
  }

  test("salted aggregation: two-phase merge equals plain groupBy, any supported aggregate") {
    import graft.ops.Skew
    // a 75%-hot key with NULL keys mixed in (they must form one group,
    // both forms), nulls in the value column (count/avg must ignore
    // them in BOTH phases), and a nullable distinct column (null
    // values hash to one salt and count as zero, like count(DISTINCT))
    val df = spark.range(0, 4000).select(
      when($"id" % 17 === 0, lit(null))
        .when($"id" % 4 < 3, lit(7L)).otherwise($"id" % 13).as("k"),
      when($"id" % 11 === 0, lit(null)).otherwise($"id" * 3).as("v"),
      when($"id" % 19 === 0, lit(null)).otherwise($"id" % 500).as("u"))
    val aggs = Seq(
      ("sum", "v", "sum_v"), ("count", "v", "n_v"), ("count", "*", "n"),
      ("min", "v", "min_v"), ("max", "v", "max_v"), ("avg", "v", "avg_v"))
    val plain = df.groupBy($"k").agg(
      sum($"v").as("sum_v"), count($"v").as("n_v"), count(lit(1)).as("n"),
      min($"v").as("min_v"), max($"v").as("max_v"),
      (sum($"v").cast("double") / count($"v")).as("avg_v"))
    val salted = Skew.saltedAgg(df, "k", 16, aggs)
    assert(salted.columns.toSeq === Seq("k") ++ aggs.map(_._3))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "the partial/merge algebra must be EXACT — including the avg " +
        "double division on identical operands")
    // distinct arm: value-hash salting means equal values share a
    // salt, so the partial distinct counts partition the value set
    // (nulls in u ignored in both phases; null k one group)
    val plainD = df.groupBy($"k").agg(count_distinct($"u").as("n_distinct"))
    val saltedD = Skew.saltedCountDistinct(df, "k", "u", 16)
    assert(saltedD.exceptAll(plainD).isEmpty && plainD.exceptAll(saltedD).isEmpty)
    // a null-ONLY key: count(DISTINCT all-null) = 0, both forms
    val nulls = spark.range(0, 10).select(lit(null).cast("long").as("k"),
      lit(null).cast("long").as("v"), lit(null).cast("long").as("u"))
    val pd = nulls.groupBy($"k").agg(count_distinct($"u").as("n_distinct"))
    val sd = Skew.saltedCountDistinct(nulls, "k", "u", 4)
    assert(sd.exceptAll(pd).isEmpty && pd.exceptAll(sd).isEmpty)
    // request validation: the quantiles doctrine — reject before work
    intercept[IllegalArgumentException](Skew.saltedAgg(df, "k", 0, aggs))
    intercept[IllegalArgumentException](
      Skew.saltedAgg(df, "k", 4, Seq(("median", "v", "m"))))
    intercept[IllegalArgumentException](Skew.saltedAgg(df, "k", 4, Nil))
    // avg over a FLOATING input is rejected: its partial sums are
    // order-dependent, so the "≡ plain groupBy" contract would
    // silently not hold (r17 verdict item 5). sum/min/max over the
    // same column stay allowed — their contracts don't divide
    val dbl = df.select($"k", ($"v" / 7.0).as("x"))
    intercept[IllegalArgumentException](
      Skew.saltedAgg(dbl, "k", 4, Seq(("avg", "x", "a"))))
    assert(Skew.saltedAgg(dbl, "k", 4, Seq(("min", "x", "m"))).columns
      .toSeq === Seq("k", "m"))
    // reserved-name guards resolve case-INsensitively, like
    // withColumn/drop do under the default caseSensitive=false — a
    // __Salt column would otherwise pass the guard and be silently
    // REPLACED by the generated salt (destroying the user's data)
    val sneaky = df.withColumnRenamed("u", "__Salt")
    intercept[IllegalArgumentException](
      Skew.saltedAgg(sneaky, "k", 4, Seq(("sum", "v", "s"))))
    intercept[IllegalArgumentException](
      Skew.saltedJoin(sneaky, df.select($"k").distinct(), "k", 4))
    intercept[IllegalArgumentException](
      Skew.saltedCountDistinct(sneaky, "k", "v", 4))
    // ... and the partial-namespace guard covers saltedCountDistinct's
    // __pd alias too (an ambiguous-reference error deep inside the op
    // is not a rejection)
    intercept[IllegalArgumentException](
      Skew.saltedCountDistinct(df.select($"k".as("__pd"), $"u"), "__pd", "u", 4))
    // a nested (dotted) key: stage 2 groups by the stage-1 OUTPUT
    // attribute, so result AND column naming match plain
    // groupBy("payload.kk")
    val nested = df.select(struct($"k".as("kk")).as("payload"), $"v", $"u")
    val plainN = nested.groupBy($"payload.kk").agg(sum($"v").as("s"))
    val saltedN = Skew.saltedAgg(nested, "payload.kk", 8, Seq(("sum", "v", "s")))
    assert(saltedN.columns.toSeq === plainN.columns.toSeq)
    assert(saltedN.exceptAll(plainN).isEmpty && plainN.exceptAll(saltedN).isEmpty)
    val plainND = nested.groupBy($"payload.kk")
      .agg(count_distinct($"u").as("n_distinct"))
    val saltedND = Skew.saltedCountDistinct(nested, "payload.kk", "u", 8)
    assert(saltedND.exceptAll(plainND).isEmpty &&
      plainND.exceptAll(saltedND).isEmpty)
  }

  test("bandingTradeoff: dup-free corpus counts zeros, duplicate truth rows don't inflate") {
    import graft.ops.Dedup
    // no shared shingles anywhere: empty candidate set AND empty truth
    // — the aggregate's null sums must read as the zero counts they
    // mean, not NPE (r17 review finding on the single-pass rewrite)
    val loners = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (2L, "zulu yankee xray whiskey victor uniform tango sierra quebec"))
      .toDF("doc_id", "text")
    val zero = Dedup.bandingTradeoff(loners, 0.8, Seq(1, 2)).collect()
    assert(zero.length == 2 &&
      zero.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0))
    // recall with no denominator is SQL null — the pre-r17 contract,
    // pinned (NaN would be unrepresentable in strict JSON exports)
    assert(zero.forall(_.isNullAt(4)))
    // a caller-supplied truth with duplicate pairs must count like its
    // distinct form on BOTH axes (the conditional aggregate counts
    // joined rows; the op pair-distincts the truth first)
    val twins = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again tonight"),
      (3L, "completely unrelated text about segment manifests and maps"))
      .toDF("doc_id", "text")
    val truth1 = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val truthDup = Seq((1L, 2L), (1L, 2L), (1L, 2L)).toDF("doc_a", "doc_b")
    val a = Dedup.bandingTradeoff(twins, 0.5, Seq(1, 4), truth = Some(truth1))
    val b = Dedup.bandingTradeoff(twins, 0.5, Seq(1, 4), truth = Some(truthDup))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("SaltJoinRule: manifest-hot join salted automatically; every guard holds") {
    import graft.plans.SaltJoinRule
    val base = java.nio.file.Files.createTempDirectory("graft-saltrule").toString
    val fact = spark.range(0, 12000).select(
      when($"id" % 4 < 3, lit(7L)).otherwise($"id" % 13).as("k"), // ~9000 hot
      ($"id" % 13).as("u"), // uniform low-cardinality second key
      ($"id" * 3).as("v"))
    fact.write.format("graft-segment").option("histFor", "k")
      .mode("append").save(s"$base/decl")
    fact.write.format("graft-segment").mode("append").save(s"$base/undecl")
    // u DECLARED and uniform: its derived fan-out is 1 — a veto for
    // any composite join including it (count(k=a ∧ u=b) ≤ count(u=b))
    fact.write.format("graft-segment").option("histFor", "k,u")
      .mode("append").save(s"$base/declv")
    val factT = spark.read.format("graft-segment").load(s"$base/decl")
    val factTv = spark.read.format("graft-segment").load(s"$base/declv")
    val dim = spark.range(0, 13).select($"id".as("k"), ($"id" % 3).as("b"))
    // all (k, u) pairs, so the composite join keeps multiplicity 1:1
    // (the floor-div must come back to LONG: a double u would put a
    // cast around the join key and the rule correctly bails on
    // anything but raw column equalities)
    val dimC = spark.range(0, 13 * 13).select(
      ($"id" % 13).as("k"), ($"id" / 13).cast("long").as("u"), ($"id" % 5).as("b"))
    // dim keys < 7 only: the HOT key is unmatched, so the left join's
    // null-extended straggler rows are exercised
    val dimHalf = spark.range(0, 7).select($"id".as("k"), ($"id" % 3).as("b"))
    def fired(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString.contains("graft_salt_f")
    def shape(t: org.apache.spark.sql.DataFrame) = t.join(dim, Seq("k"))
      .groupBy($"b").agg(count(lit(1)).as("n"), sum($"v").as("s"))
    def leftShape(t: org.apache.spark.sql.DataFrame) =
      t.join(dimHalf, Seq("k"), "left_outer")
        .groupBy(coalesce($"b".cast("string"), lit("miss")).as("g"))
        .agg(count(lit(1)).as("n"), sum($"v").as("s"))
    // expected results collected with the rule excluded (the session
    // carries it: a reference planned with it would be rewritten too,
    // making the invisibility comparison rewritten-vs-rewritten —
    // vacuous)
    val (plainExpected, leftExpected) = withoutRule(classOf[SaltJoinRule]) {
      (shape(factT).collect().toSet, leftShape(factT).collect().toSet)
    }
    Session.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val auto = shape(factT)
      assert(fired(auto), "declared-hot key + non-broadcastable dim must fire")
      assert(auto.collect().toSet === plainExpected,
        "the rewrite must be invisible in the result")
      // row level too: multiplicity is exact, not just aggregate-exact
      val rows = factT.join(dim, Seq("k"))
      assert(fired(rows) && rows.count() === 12000)
      // FACT-PRESERVING left join fires (r18, SaltBench-measured) and
      // stays invisible, including the null-extended unmatched rows —
      // every preserved fact row keeps exactly ONE salt
      val leftAuto = leftShape(factT)
      assert(fired(leftAuto), "fact-preserving left join must fire")
      assert(leftAuto.collect().toSet === leftExpected)
      assert(factT.join(dimHalf, Seq("k"), "left_outer").count() === 12000)
      // the preserved side must be the FACT: a dim-preserved left (or
      // its mirrored right) would emit `salts` null-extended copies
      assert(!fired(dimHalf.join(factT, Seq("k"), "left_outer")))
      assert(!fired(factT.join(dimHalf, Seq("k"), "right_outer")))
      assert(fired(dimHalf.join(factT, Seq("k"), "right_outer")),
        "right-outer with the fact on the preserved RIGHT fires")
      assert(!fired(factT.join(dimHalf, Seq("k"), "full_outer")))
      // COMPOSITE key (r18): u undeclared — the k map alone bounds the
      // composite hot mass, the rewrite fires and stays 1:1
      val comp = factT.join(dimC, Seq("k", "u"))
      assert(fired(comp), "composite key with one declared column must fire")
      assert(comp.count() === 12000)
      // ... but a DECLARED-uniform column vetoes: count(k=7 ∧ u=x) ≤
      // count(u=x) ≈ n/13 — no composite hot key exists
      assert(!fired(factTv.join(dimC, Seq("k", "u"))),
        "the tightest declared bound (u: not hot) must veto the rewrite")
      // no statistic (undeclared map) -> no rewrite
      assert(!fired(spark.read.format("graft-segment").load(s"$base/undecl")
        .join(dim, Seq("k"))))
      // residual non-equality conjunct -> untouched (the multiplicity
      // argument only covers the pure equi-join shape)
      assert(!fired(factT.join(dim,
        factT("k") === dim("k") && factT("v") > dim("b"))))
      // a multiplicity-CHANGING node between scan and join must bail:
      // post-aggregate every key appears exactly once — zero skew —
      // so the raw scan's hot-key statistic no longer describes the
      // join input and salting would replicate the dim for nothing.
      // A FILTER in between only shrinks per-key mass (the statistic
      // stays an upper bound — the composite-bound doctrine) and fires
      assert(!fired(factT.groupBy($"k").agg(sum($"v").as("v2"))
        .join(dim, Seq("k"))),
        "an aggregate between scan and join must bail")
      assert(fired(factT.filter($"v" >= 0).join(dim, Seq("k"))),
        "a filter between scan and join preserves the upper bound")
      // kill switch: Spark's own excludedRules drops the injected rule
      withoutRule(classOf[SaltJoinRule])(assert(!fired(shape(factT))))
    }
    // broadcast-eligible dim -> no rewrite (BHJ has no fact shuffle;
    // SaltBench measured broadcast strictly dominating)
    assert(!fired(shape(factT)), "broadcastable dim must stay unsalted")
  }

  test("SaltJoinRule fires through the catalog SQL face (histFor table property)") {
    // the certificates exercise path-based loads; a SQL user reaches
    // the same statistic through a CATALOG-managed table — the rule
    // must fire there too (same GraftSegmentTable instance underneath)
    val base = java.nio.file.Files.createTempDirectory("graft-saltcat").toString
    // a scoped catalog: later tests must not inherit a live catalog
    // over a temp warehouse
    graft.sources.segment.GraftCatalog.withCatalog(spark, s"$base/wh") { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.fact (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('histFor'='k')")
      spark.range(0, 12000).select(
        when($"id" % 4 < 3, lit(7L)).otherwise($"id" % 13).as("k"),
        ($"id" * 3).as("v")).createOrReplaceTempView("graft_saltcat_src")
      spark.sql(s"INSERT INTO $cat.db.fact SELECT k, v FROM graft_saltcat_src")
      spark.range(0, 13).select($"id".as("k"), ($"id" % 3).as("b"))
        .createOrReplaceTempView("graft_saltcat_dim")
      Session.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val q = spark.sql(s"SELECT b, count(*) AS n, sum(v) AS s " +
          s"FROM $cat.db.fact JOIN graft_saltcat_dim USING (k) GROUP BY b")
        assert(q.queryExecution.optimizedPlan.toString.contains("graft_salt_f"),
          "the rule must serve SQL users through the catalog table path")
        assert(q.count() === 3)
        // row multiplicity is exact through the SQL face too
        assert(spark.sql(s"SELECT * FROM $cat.db.fact " +
          "JOIN graft_saltcat_dim USING (k)").count() === 12000)
      }
    }
  }

  test("embedding near-dup candidates come only from shared LSH buckets") {
    val emb = Seq(
      (1L, Seq(1f, 1f, 1f, 1f), 0), (2L, Seq(0.9f, 0.9f, 0.9f, 0.9f), 0),
      (3L, Seq(-1f, 1f, 1f, 1f), 0)).toDF("vec_id", "embedding", "label")
    val pairs = graft.ops.Dedup.embeddingNearDups(emb, 10, 4).collect()
    assert(pairs.length === 1) // only (1,2) share bucket 15; 3 is pruned
    assert(pairs(0).getAs[Long]("vec_a") === 1L && pairs(0).getAs[Long]("vec_b") === 2L)
    assert(pairs(0).getAs[Double]("sim") > 0.99)
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.limit(50).select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .crossJoin(emb.limit(50))
    val diff = pairs.select(
      graft.ops.Similarity.cosine($"q_emb", $"embedding").as("hof"),
      graft.functions.VectorExpressions.cosineNative($"q_emb", $"embedding").as("native"))
      .filter($"hof" =!= $"native")
    assert(diff.count() === 0)
  }

  test("IVF: clusters separate, probes stay inside the routed bucket") {
    import graft.ops.Ivf
    // two obvious clusters around (1,0) and (0,1)
    val corpus = Seq(
      (0L, Seq(1f, 0.1f)), (1L, Seq(0.9f, 0f)), (2L, Seq(1f, 0.2f)),
      (10L, Seq(0f, 1f)), (11L, Seq(0.1f, 0.9f)), (12L, Seq(0.2f, 1f)))
      .toDF("vec_id", "embedding")
    val index = Ivf.buildIndex(corpus, k = 2, iters = 2)
    val clusters = index.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("centroid_id")).toMap
    // cluster membership is consistent: 0,1,2 together; 10,11,12 together
    assert(Set(clusters(0L), clusters(1L), clusters(2L)).size === 1)
    assert(Set(clusters(10L), clusters(11L), clusters(12L)).size === 1)
    assert(clusters(0L) !== clusters(10L))
    // probe: a query near (1,0) only sees its own bucket
    val centroids = Ivf.updateCentroids(index)
    val queries = Seq((0L, Seq(1f, 0f))).toDF("q_id", "q_emb")
    val top = Ivf.topK(index, centroids, queries, k = 5, nprobe = 1).collect()
    assert(top.map(_.getAs[Long]("vec_id")).toSet === Set(1L, 2L))
  }

  test("Simhash: md5-derived token hash, identical docs collide, near-dups are close") {
    import graft.ops.Simhash
    // hash64 = first 8 bytes of md5, big-endian (pinned against an
    // independently computed value — the contract the oracle SQL relies on)
    assert(Simhash.hash64("the") === -8087290180436138277L)
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "completely different content about spark engines"))
    val sig = Simhash.signatures(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sig(1L) === sig(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(3L)) < ham(sig(1L), sig(4L)))
  }

  test("dedupComponents resolves a multi-hop component to one keeper") {
    // doc2 = doc1's words ++ doc3's words: its band-min shingle equals
    // doc1's in bands 0/2 and doc3's in bands 1/3 (verified offline), so
    // the edge set is the CHAIN 1–2, 2–3 with no direct 1–3 edge — label
    // 1 must propagate to doc3 through doc2, exercising convergence
    // beyond one round. doc4 shares nothing and stays a singleton.
    val t1 = "apple banana cherry date elderberry fig grape"
    val t3 = "zebra yak xenon walrus vulture toad stork"
    val d = docs((1L, t1), (2L, s"$t1 $t3"), (3L, t3), (4L, "lonely isolated document over here today"))
    val r = Dedup.dedupComponents(d, 4).collect()
      .map(x => x.getAs[Long]("doc_id") -> ((x.getAs[Long]("component_id"), x.getAs[Boolean]("is_keeper")))).toMap
    assert(r(1L) === ((1L, true)))
    assert(r(2L) === ((1L, false)))
    assert(r(3L) === ((1L, false))) // reached only via doc2: multi-hop
    assert(r(4L) === ((4L, true)))
    // terminal op: only the keepers survive
    assert(Dedup.deduplicate(d, 4).collect().map(_.getAs[Long]("doc_id")).sorted
      === Array(1L, 4L))
    // NOTE: dedupComponents uses eager localCheckpoint (not persist), so
    // its blocks are ContextCleaner-managed — freed when the RDD refs go
    // out of scope and the driver GCs, with nothing for a caller to leak.
  }

  test("connectedComponents: a 200-node chain converges in log-rounds via star contraction") {
    // a path graph is the giant-component worst case for plain label
    // propagation (O(diameter) rounds); the large/small-star alternation
    // must collapse it in O(log n). 12 rounds ≈ log2(200) + detection
    // margin — a linear-round solver would hit the warn path here and
    // leave the chain split, failing the all-labels-are-1 assertion.
    val edges = spark.range(1L, 200L).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val labels = Dedup.connectedComponents(edges, maxRounds = 12).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component_id")).toMap
    assert(labels.size === 200)
    assert(labels.values.forall(_ === 1L))
  }

  test("connectedComponents with a reliable checkpoint dir: same labels, files written") {
    // the cluster-safe path: with a checkpoint dir configured, the
    // per-round cuts go to it (survives executor loss) instead of
    // executor-local blocks
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val edges = spark.range(1L, 60L).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val labels = withCheckpointDir(spark, dir) {
      Dedup.connectedComponents(edges, maxRounds = 12).collect()
    }.map(r => r.getAs[Long]("node") -> r.getAs[Long]("component_id")).toMap
    assert(labels.size === 60)
    assert(labels.values.forall(_ === 1L))
    // the rounds really went through the reliable checkpoint
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, s"no checkpoint files under $dir")
    assert(spark.sparkContext.getCheckpointDir === None)
  }

  test("deduplicate applies precomputed components as a pure semi-join") {
    val d = docs((1L, "aa bb cc dd"), (2L, "ee ff gg hh"), (3L, "ii jj kk ll"))
    val comps = Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true))
      .toDF("doc_id", "component_id", "is_keeper")
    val kept = Dedup.deduplicate(d, comps).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept === Array(1L, 3L))
  }

  test("simhash hammingPairs: banded candidates find all pairs within distance 3") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "totally unrelated corpus about distributed engines"))
    val pairs = graft.ops.Simhash.hammingPairs(d, 3).collect()
    assert(pairs.length === 1) // identical docs: hamming 0; doc3 far away
    assert(pairs(0).getAs[Long]("doc_a") === 1L && pairs(0).getAs[Long]("doc_b") === 2L)
    assert(pairs(0).getAs[Int]("hamming") === 0)
    intercept[IllegalArgumentException] { graft.ops.Simhash.hammingPairs(d, 5) }
  }

  test("minhashVerifiedPairs: LSH candidates verified by exact Jaccard") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "unrelated words that share nothing at all"))
    val pairs = Dedup.minhashVerifiedPairs(d, 10).collect()
    assert(pairs.length === 1) // 3 never shares a bucket with 1/2
    assert(pairs(0).getAs[Long]("doc_a") === 1L && pairs(0).getAs[Long]("doc_b") === 2L)
    assert(pairs(0).getAs[Double]("jaccard") === 1.0)
  }

  test("IVF near-dup pairs come only from shared centroid buckets") {
    import graft.ops.Ivf
    val corpus = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.95f, 0.05f)),
      (10L, Seq(0f, 1f)), (11L, Seq(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    val pairs = Ivf.nearDupPairs(corpus, 10, k = 2, iters = 2).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(pairs === Set((0L, 1L), (10L, 11L))) // no cross-cluster pair
  }

  test("chunks: stride windows with true trailing token counts") {
    val r = TextOps.chunks(docs((1L, "a b c d e")), chunkSize = 3, stride = 2)
      .orderBy($"chunk_start").collect()
      .map(x => (x.getAs[Int]("chunk_start"), x.getAs[Int]("n_chunk_tokens"), x.getAs[String]("chunk_text")))
    assert(r.toSeq === Seq((0, 3, "a b c"), (2, 3, "c d e"), (4, 1, "e")))
  }

  test("packChunks assigns in-order chunks to budgeted sequences") {
    // 10 tokens, 3-token chunks (stride 3): sizes 3,3,3,1 at starts 0,3,6,9;
    // budget 6 → cum_before 0,3,6,9 → seq 0,0,1,1
    val r = TextOps.packChunks(
        TextOps.chunks(docs((1L, "a b c d e f g h i j")), 3, 3), 6)
      .orderBy($"seq_id").collect()
      .map(x => (x.getAs[Long]("seq_id"), x.getAs[Long]("n_chunks"), x.getAs[Long]("seq_tokens")))
    assert(r.toSeq === Seq((0L, 2L, 6L), (1L, 2L, 4L)))
  }

  test("tfidf ranks a doc's distinctive terms above corpus-wide ones") {
    val d = docs(
      (1L, "apple apple banana the the"),
      (2L, "cherry the banana the the"),
      (3L, "durian the the the the"))
    val top = TextOps.tfidf(d, 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("word")).toMap
    // 'the' appears in every doc (idf ln(4/4)=0); the doc-unique fruit wins
    assert(top === Map(1L -> "apple", 2L -> "cherry", 3L -> "durian"))
  }

  test("qualityFilter keeps the smallest score cohort covering the fraction") {
    val good = "the quick brown fox jumps over a lazy dog and then runs far away home tonight with the pack of hounds" // 21 tokens, stopwords
    val d = docs((1L, good), (2L, good), (3L, "zz qq"), (4L, "xx"))
    val kept = TextOps.qualityFilter(d, 0.5).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 2L))
    assert(kept.forall(_.getAs[Int]("q_threshold") === 3))
  }

  test("hash sampling is deterministic, key-consistent and threshold-exact") {
    val d = docs((1L to 200L).map(i => i -> s"doc $i"): _*)
    val s1 = graft.ops.Sampling.trainEvalSplit(d, $"doc_id", 0.8, "graft")
    val s2 = graft.ops.Sampling.trainEvalSplit(d, $"doc_id", 0.8, "graft")
    // identical across runs
    assert(s1.collect().map(_.toString).sorted === s2.collect().map(_.toString).sorted)
    // split matches an independent sample() call at the same rate/salt
    val sampled = graft.ops.Sampling.sample(d, $"doc_id", 0.8, "graft")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val train = s1.filter($"split" === "train").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(train === sampled)
    // a different salt reshuffles membership
    val other = graft.ops.Sampling.sample(d, $"doc_id", 0.8, "other")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(other !== sampled)
  }

  test("lengthQuantiles is exact; approx_percentile tracks it within tolerance") {
    val d = (1 to 500).map(i => ("en", i.toLong)).toDF("lang", "n_chars")
    val r = TextOps.lengthQuantiles(d).collect()(0)
    assert(r.getAs[Double]("p25") === 125.75) // 1 + 0.25 * 499, interpolated
    assert(r.getAs[Double]("p50") === 250.5)
    assert(r.getAs[Double]("p95") === 475.05)
    // the 100 TB path: t-digest sketch stays within 1% on this distribution
    val approx = d.agg(expr("percentile_approx(n_chars, 0.5, 10000)")).head.getLong(0)
    assert(math.abs(approx - 250.5) <= 5.0, s"approx p50 $approx drifted from exact 250.5")
  }

  test("shardAssignments' distributed prefix scan equals the global running sum") {
    val d = docs((1L to 200L).map(i => i -> ("w " * ((i % 17) + 1).toInt).trim): _*)
    val dist = TextOps.shardAssignments(d, 50).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("cum_before"), r.getAs[Long]("shard_id"))).toMap
    // brute force: the single global window it must reproduce exactly
    val w = org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
    val brute = TextOps.withTokens(d)
      .select($"doc_id", size($"words").as("n"))
      .withColumn("cum", sum($"n").over(w) - $"n")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum"), r.getAs[Long]("cum") / 50)).toMap
    assert(dist === brute)
    assert(dist.values.map(_._2).max > 0) // multiple shards exercised
  }

  test("approx_count_distinct tracks the exact vocabulary within tolerance") {
    val d = (1 to 2000).map(i => s"w${i % 700}").toDF("word")
    val exact = d.agg(countDistinct($"word")).head.getLong(0)
    assert(exact === 700)
    // the 100 TB path: HLL++ sketch (fixed memory, mergeable) within 5%
    val approx = d.agg(approx_count_distinct($"word", 0.02)).head.getLong(0)
    assert(math.abs(approx - exact) <= exact * 0.05, s"HLL $approx vs exact $exact")
  }

  test("incrementalNew admits only unseen content and collapses batch dups") {
    val hist = docs((1L, "seen one"), (2L, "seen two"))
    val batch = docs((10L, "seen one"), (11L, "fresh"), (12L, "fresh"), (13L, "brand new"))
    val r = graft.ops.Dedup.incrementalNew(batch, hist)
      .collect().map(x => x.getAs[Long]("keeper_doc_id") -> x.getAs[Long]("n_copies")).toMap
    assert(r === Map(11L -> 2L, 13L -> 1L)) // seen content excluded, dup batch collapsed
  }

  test("stratifiedSample applies per-stratum rates and drops unknown strata") {
    val d = (1L to 300L).map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toSeq.toDF("doc_id", "lang")
    val kept = graft.ops.Sampling.stratifiedSample(
      d, $"doc_id", $"lang", Map("a" -> 1.0, "b" -> 0.5), "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "a") === 100)      // rate 1.0 keeps every 'a'
    assert(kept.count(_._2 == "c") === 0)        // absent stratum dropped
    val b = kept.count(_._2 == "b")
    assert(b > 20 && b < 80, s"rate 0.5 kept $b of 100")
    // per-stratum membership matches the plain sampler at the same rate/salt
    val plain = graft.ops.Sampling.sample(d.filter($"lang" === "b"), $"doc_id", 0.5, "s")
      .collect().map(_.getLong(0)).toSet
    assert(kept.filter(_._2 == "b").map(_._1).toSet === plain)
  }

  test("splitContamination reports heldout keys present on the train side") {
    // doc_ids 1..6 under salt "x": membership is deterministic; give
    // three docs one shared key, the rest unique keys
    val d = Seq((1L, "k-shared"), (2L, "k-shared"), (3L, "k-u3"), (4L, "k-u4"),
      (5L, "k-shared"), (6L, null.asInstanceOf[String])).toDF("doc_id", "fp")
    val split = graft.ops.Sampling.trainEvalSplit(d, $"doc_id", 0.5, "x")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    val sharedSides = Seq(1L, 2L, 5L).map(split)
    assume(sharedSides.distinct.size == 2, "salt must split the shared-key docs")
    val leaked = graft.ops.Sampling.splitContamination(d, "fp", 0.5, "x")
      .collect().map(_.getLong(0)).toSet
    val expected = Seq(1L, 2L, 5L).filter(i => split(i) == "heldout").toSet
    assert(leaked === expected) // unique and null keys never leak
  }

  test("repetitionScores flags repeated tokens and dominant bigrams") {
    // doc 1: 5 tokens, 2 distinct → dup 0.6; bigrams a-b ×2, b-a ×2 of 4 → top 0.5
    // doc 2: all distinct → dup 0.0; every bigram unique → top 1/4 = 0.25
    val r = TextOps.repetitionScores(docs((1L, "a b a b a"), (2L, "v w x y z")))
      .orderBy($"doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("dup_token_ratio"), x.getAs[Double]("top_bigram_ratio")))
    assert(r.toSeq === Seq((1L, 0.6, 0.5), (2L, 0.0, 0.25)))
  }

  test("langId guesses the stopword-dominant language") {
    val d = docs((1L, "the cat of the house and the dog"), (2L, "der hund und die katze ist ein tier"))
    val m = TextOps.langId(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("guessed_lang")).toMap
    assert(m(1L) === "en")
    assert(m(2L) === "de")
  }

  test("asofJoinBackward: inclusive bound, left-outer nulls, no row explosion") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq(
      (1L, "u1", ts(100)), // exactly at a right row: inclusive bound matches it
      (2L, "u1", ts(150)), // between right rows: carries the latest earlier one
      (3L, "u1", ts(50)),  // before every right row: null
      (4L, "u2", ts(500))  // key with no right rows at all: null
    ).toDF("id", "k", "t")
    val right = Seq(
      ("u1", ts(100), 10L, 1.0),
      ("u1", ts(140), 14L, 2.0),
      ("u1", ts(200), 20L, 3.0)
    ).toDF("k", "t", "rid", "v")
    val out = graft.ops.AsOf
      .asofJoinBackward(left, right, "k", "t", Seq("rid", "v"))
      .orderBy($"id").collect()
      .map(r => (r.getAs[Long]("id"),
        Option(r.getAs[java.lang.Long]("asof_rid")).map(_.toLong)))
    assert(out.toSeq === Seq(
      1L -> Some(10L), 2L -> Some(14L), 3L -> None, 4L -> None))
    // every left row emitted exactly once — the window formulation never
    // multiplies rows the way a range-join-then-prune would
    assert(graft.ops.AsOf
      .asofJoinBackward(left, right, "k", "t", Seq("rid", "v")).count() === left.count())
  }

  test("unigramLogProb scores docs by corpus-relative token surprisal") {
    // corpus tokens: a:2, b:2, N=4 -> every token costs -ln(1/2)
    val r = TextOps.unigramLogProb(docs((1L, "a a b"), (2L, "b")))
      .orderBy($"doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Int]("n_tokens"), x.getAs[Double]("avg_neg_logp")))
    val ln2 = math.rint(math.log(2) * 1e4) / 1e4
    assert(r.toSeq === Seq((1L, 3, ln2), (2L, 1, ln2)))
    // a doc of rarer tokens scores strictly higher than boilerplate
    val s = TextOps.unigramLogProb(docs(
      (1L, "x x x x x x x x"), (2L, "unique rare words")))
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("avg_neg_logp")).toMap
    assert(s(2L) > s(1L))
  }

  test("rollingRate counts a value-based trailing window, bounds inclusive") {
    val ev = Seq((1L, 150L, 0L), (2L, 150L, 1800L), (3L, 150L, 3600L), (4L, 150L, 7201L))
      .toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_micros($"sec" * 1000000L)).drop("sec")
    val r = graft.ops.EventWindows.rollingRate(ev, windowSec = 3600)
      .orderBy($"event_id").collect().map(_.getAs[Long]("n_window")).toSeq
    // t=3600 still sees t=0: the RANGE lower bound is inclusive
    assert(r === Seq(1L, 2L, 3L, 1L))
  }

  test("scrubPii redacts emails, phones, IPv4s and piiCounts tallies them") {
    val d = docs((1L, "mail a.b+c@ex-ample.co.uk or 555-123-4567; host 10.0.0.1 then x@y.io"))
      .select($"doc_id", TextOps.scrubPii($"text").as("t"), TextOps.piiCounts($"text").as("c"))
      .collect()(0)
    assert(d.getAs[String]("t") === "mail <EMAIL> or <PHONE>; host <IP> then <EMAIL>")
    val c = d.getAs[org.apache.spark.sql.Row]("c")
    assert((c.getAs[Int]("n_emails"), c.getAs[Int]("n_phones"), c.getAs[Int]("n_ips")) === ((2, 1, 1)))
    // non-PII lookalikes survive: version strings, short digit runs
    val clean = docs((2L, "v1.2.3 released; call 12-34"))
      .select(TextOps.scrubPii($"text").as("t")).collect()(0).getString(0)
    assert(clean === "v1.2.3 released; call 12-34")
  }

  test("binnedPointIntervalJoin: inclusive bounds, bin-spanning intervals, no nested loop") {
    val points = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 99L), (5L, -7L))
      .toDF("pid", "p")
    val intervals = Seq(
      (100L, 5L, 10L),   // matches p=5 (start-inclusive) and p=10 (end-inclusive)
      (200L, 8L, 27L),   // spans 3 bins at width 10; catches 10 and 25
      (300L, 50L, 60L),  // empty
      (400L, -10L, -1L)  // negative domain; catches -7
    ).toDF("iid", "s", "e")
    val joined = graft.ops.RangeJoin
      .binnedPointIntervalJoin(points, "p", intervals, "s", "e", binWidth = 10L)
    val pairs = joined.select($"pid", $"iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set(
      1L -> 100L, 2L -> 100L, 2L -> 200L, 3L -> 200L, 5L -> 400L))
    // the point of the operator: the physical plan is an equi-join on
    // the bin key, not the nested-loop scan the raw BETWEEN would plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected a binned equi-join, got:\n$plan")
    assert(plan.contains("Join"), s"expected a join on the bin key, got:\n$plan")
  }

  test("MvRewriteRule routes subsumed aggregates to the MV; filters and foreign measures bail") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def roots(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[String] =
      p.collect { case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }}.flatten.toSet
    val base = java.nio.file.Files.createTempDirectory("mv-spec").toString
    Seq(("a", "p", 1.0, 9L), ("a", "q", 2.0, 9L), ("b", "p", 4.0, 9L), ("b", "p", 8.0, 9L))
      .toDF("g1", "g2", "x", "y").write.parquet(s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    fact.groupBy($"g1", $"g2")
      .agg(sum($"x").as("pre_x"), count(lit(1)).as("pre_cnt"))
      .write.parquet(s"$base/mv")
    val rule = graft.plans.MvRewriteRule(roots(fact.queryExecution.analyzed),
      spark.read.parquet(s"$base/mv").queryExecution.analyzed,
      Set("g1", "g2"), Map("x" -> "pre_x"), "pre_cnt")
    val q = rule.serve(fact.groupBy($"g1").agg(sum($"x").as("sx"), count(lit(1)).as("n")))
    val optRoots = roots(q.queryExecution.optimizedPlan)
    assert(optRoots.exists(_.contains("/mv")), s"plan must scan the MV: $optRoots")
    assert(!optRoots.exists(_.contains("/fact")), s"fact scan must be gone: $optRoots")
    // ...and the routed answer is the raw answer
    val r = q.collect().map(x => x.getString(0) -> ((x.getDouble(1), x.getLong(2)))).toMap
    assert(r === Map("a" -> ((3.0, 2L)), "b" -> ((12.0, 2L))))
    // a filter the MV cannot see → untouched
    val filtered = rule.serve(fact.filter($"x" > 1.0).groupBy($"g1").agg(sum($"x")))
    assert(roots(filtered.queryExecution.optimizedPlan).exists(_.contains("/fact")))
    // a measure the MV does not carry → untouched
    val foreign = rule.serve(fact.groupBy($"g1").agg(sum($"y")))
    assert(roots(foreign.queryExecution.optimizedPlan).exists(_.contains("/fact")))
  }

  test("GraftExtensions wires the range-join rule with the configured bin width") {
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    // Range-backed sides: a Project over a LocalRelation would be
    // folded away, and the bin expression with it
    val points = spark.range(0, 3).select(($"id" * 5).as("p"))
    val intervals = spark.range(0, 2).select(($"id" + 5).as("s"), ($"id" + 10).as("e"))
    // the width the session's rule binned with, read off the rewritten plan
    def widths(): Seq[Long] = points.join(intervals, $"p" >= $"s" && $"p" <= $"e")
      .queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
        case d: IntegralDivide => d.right
      }).collect { case Literal(w: Long, _) => w }.distinct
    Session.withConfs(spark, BinnedRangeJoinRule.BinWidthKey -> "12345") {
      assert(widths() === Seq(12345L))
      val names = Seq("spark engine").toDF("name")
      assert(names.as("l").join(names.as("r"), levenshtein($"l.name", $"r.name") <= 1)
        .queryExecution.optimizedPlan.toString.contains("graft_l_var"))
      // a malformed or non-positive width must degrade to the default
      // (1 h in micros), never throw inside the optimizer — the
      // kill-switch doctrine: a bad conf value may not fail planning
      for (bad <- Seq("1h", "", "-5", "0")) {
        spark.conf.set(BinnedRangeJoinRule.BinWidthKey, bad)
        assert(widths() === Seq(3600L * 1000 * 1000), s"binWidth='$bad'")
      }
    }
  }

  test("BinnedRangeJoinRule rewrites a raw BETWEEN join into the binned plan") {
    val points = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 99L), (5L, -7L))
      .toDF("pid", "p")
    val intervals = Seq(
      (100L, 5L, 10L), (200L, 8L, 27L), (300L, 50L, 60L), (400L, -10L, -1L))
      .toDF("iid", "s", "e")
    def rawJoin() = points
      .join(intervals, $"p" >= $"s" && $"p" <= $"e")
      .select($"pid", $"iid")
    val (baseline, rawPlan) = withoutRule(classOf[BinnedRangeJoinRule]) {
      (rawJoin().collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        rawJoin().queryExecution.executedPlan.toString)
    }
    assert(rawPlan.contains("BroadcastNestedLoopJoin"), // what users get today
      s"expected the raw BETWEEN join to nested-loop, got:\n$rawPlan")
    Session.withConfs(spark, BinnedRangeJoinRule.BinWidthKey -> "10") {
      val rewritten = rawJoin()
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"expected the rule to remove the nested loop, got:\n$plan")
      assert(plan.contains("Generate"), s"expected the interval explode, got:\n$plan")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === baseline) // rewrite is semantics-preserving
    }
  }

  test("FuzzyJoinRule rewrites a raw levenshtein join; multiplicity preserved") {
    // duplicate left ROW (20 twice): the nested-loop baseline yields the
    // pair twice, and so must the rewrite — the min-shared-variant dedup
    // must not collapse genuine input duplicates, only multi-variant hits
    val lefts = Seq(
      (10L, "spark enginx"), (11L, "spark engin"), (15L, "postgres"),
      (20L, "spark engine"), (20L, "spark engine")).toDF("lk", "lname")
    val rights = Seq((1L, "spark engine"), (2L, "flink runner")).toDF("rk", "rname")
    def rawJoin() = lefts
      .join(rights, levenshtein($"lname", $"rname") <= 1)
      .select($"lk", $"rk")
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(identity)
        .view.mapValues(_.length).toMap
    def join2() = lefts
      .join(rights, levenshtein($"lname", $"rname") <= 2).select($"lk", $"rk")
    // k=1 and k=2 ground truth, rule excluded
    val (baseline, rawPlan, base2) = withoutRule(classOf[FuzzyJoinRule]) {
      (multiset(rawJoin()), rawJoin().queryExecution.executedPlan.toString, multiset(join2()))
    }
    assert(baseline((20L, 1L)) === 2) // the duplicate row really doubles
    assert(rawPlan.contains("BroadcastNestedLoopJoin"),
      s"expected the raw levenshtein join to nested-loop, got:\n$rawPlan")
    val rewritten = rawJoin()
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected the rule to remove the nested loop, got:\n$plan")
    assert(plan.contains("Generate"), s"expected the variant explode, got:\n$plan")
    assert(multiset(rewritten) === baseline)
    // k=2 threshold routes through the two-deletion neighborhood
    assert(multiset(join2()) === base2)
  }

  test("GraftExtensions end-to-end: injected rules converge in the fixed-point batch") {
    // injectOptimizerRule puts the rules INSIDE Spark's fixed-point
    // Operator Optimization batch, interleaved with PushDownPredicates —
    // the interleaving that re-fired the unguarded rules forever (each
    // iteration pushed the residual theta conjunct back into the new
    // join's condition, re-matching the pattern). The test session
    // installs them that way, as every Session.build does.
    Session.withConfs(spark, BinnedRangeJoinRule.BinWidthKey -> "10") {
      val lefts = Seq((10L, "spark enginx"), (15L, "postgres"), (20L, "spark engine"))
        .toDF("lk", "lname")
      val rights = Seq((1L, "spark engine"), (2L, "flink runner")).toDF("rk", "rname")
      val fuzzy = lefts.join(rights, levenshtein($"lname", $"rname") <= 1)
        .select($"lk", $"rk")
      val fPlan = fuzzy.queryExecution.executedPlan.toString
      assert(!fPlan.contains("BroadcastNestedLoopJoin"),
        s"expected the injected FuzzyJoinRule to fire, got:\n$fPlan")
      assert(fuzzy.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((10L, 1L), (20L, 1L)))
      // fired exactly ONCE: one variant explode per side, no nested pileup
      val generates = fuzzy.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      assert(generates.size === 2,
        s"expected exactly one rewrite (2 Generates), got ${generates.size}")
      val points = Seq((1L, 5L), (3L, 25L), (5L, -7L)).toDF("pid", "p")
      val intervals = Seq((100L, 5L, 10L), (200L, 8L, 27L)).toDF("iid", "s", "e")
      val ranged = points.join(intervals, $"p" >= $"s" && $"p" <= $"e")
        .select($"pid", $"iid")
      val rPlan = ranged.queryExecution.executedPlan.toString
      assert(!rPlan.contains("BroadcastNestedLoopJoin"),
        s"expected the injected BinnedRangeJoinRule to fire, got:\n$rPlan")
      assert(ranged.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 100L), (3L, 200L)))
      // the guard: a join that already carries an equi-key is left alone
      // (it plans as a hash join with the theta conjunct as residual)
      val keyed = lefts.join(rights,
        $"lk" === $"rk" && levenshtein($"lname", $"rname") <= 1)
      val kPlan = keyed.queryExecution.optimizedPlan.toString
      assert(!kPlan.contains("graft_l_var"), s"guard failed to bail:\n$kPlan")
      assert(keyed.count() === 0)
    }
  }

  test("containmentPairs: a doc quoted inside a longer one scores ~1 one-way") {
    import graft.ops.Dedup
    val short = "alpha beta gamma delta epsilon"
    val long = ("intro words here " + short + " plus a tail of unrelated filler tokens " +
      "going on for quite a while to keep jaccard low").trim
    val docs = Seq((1L, short), (2L, long), (3L, "completely different text about other things entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the short doc's shingles are fully covered by the long doc...
    assert(pairs((1L, 2L)) === 1.0)
    // ...but NOT vice versa (the long doc has many uncovered shingles),
    // and Jaccard misses the pair entirely at the same threshold
    assert(!pairs.contains((2L, 1L)))
    val jac = Dedup.jaccardPairs(docs, 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jac.getOrElse((1L, 2L), 0.0) < 0.8)
  }

  test("Scd2.merge at any split equals the full rebuild; pointInTime snapshots") {
    import graft.ops.Scd2
    // change log: keys with 1..4 changes, deliberate same-ts ties broken
    // by the unique seq column
    val changes = Seq(
      (1L, 10L, 100L, "A"), (1L, 20L, 101L, "B"), (1L, 20L, 102L, "C"), (1L, 40L, 103L, "D"),
      (2L, 15L, 200L, "X"),
      (3L, 5L, 300L, "P"), (3L, 30L, 301L, "Q")).toDF("key", "ts", "seq", "attr")
    val full = Scd2.build(changes, "key", "ts", "seq")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        Option(r.get(4)), r.getBoolean(5))).toSet
    val expected = rows(full.select("key", "ts", "seq", "attr", "valid_to", "is_current"))
    // the merge invariant must hold at EVERY batch boundary, including
    // splits that leave a key entirely in one side or straddle its ties
    for (split <- Seq(6L, 15L, 20L, 25L, 35L)) {
      val merged = Scd2.merge(
        Scd2.build(changes.filter($"ts" < split), "key", "ts", "seq"),
        changes.filter($"ts" >= split), "key", "ts", "seq")
      assert(rows(merged.select("key", "ts", "seq", "attr", "valid_to", "is_current"))
        === expected, s"merge at split=$split diverged from full rebuild")
    }
    // snapshot at ts=25: key 1 -> C (the tie's last wins via seq), 2 -> X, 3 -> P
    val snap = Scd2.pointInTime(full, "ts", lit(25L))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(snap === Map(1L -> "C", 2L -> "X", 3L -> "P"))
    // temporal join: each fact picks the version valid AT ITS OWN ts —
    // not the current one — and a fact predating the key's first
    // version survives with a null attr
    val facts = Seq((100L, 1L, 25L), (101L, 1L, 40L), (102L, 3L, 1L))
      .toDF("fact_id", "key", "fts")
    val tjDf = Scd2.temporalJoin(facts, full, "key", "fts", "ts")
    val tj = tjDf
      .collect().map(r => r.getAs[Long]("fact_id") -> Option(r.getAs[String]("attr"))).toMap
    assert(tj === Map(100L -> Some("C"), 101L -> Some("D"), 102L -> None))
    // the KEY must carry the join — an interval predicate that planned
    // as a nested loop would collapse the 100 TB story
    val plan = tjDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"temporal join must be an equi-join on the key:\n$plan")
  }

  test("dupSpanFraction measures cross-doc span reuse, not pairwise similarity") {
    // doc 1 and 2 share the span "x y z w" (trigrams "x y z"/"y z w");
    // doc 3 also quotes "x y z" from elsewhere but is mostly unique;
    // doc 4 is entirely unique. No PAIR here is near-duplicate, yet
    // span reuse is visible per doc.
    val d = docs(
      (1L, "x y z w a b"),   // shingles: xyz yzw zwa wab -> dup: xyz yzw = 2/4
      (2L, "p q x y z w"),   // pqx qxy xyz yzw -> dup: xyz yzw = 2/4
      (3L, "m n x y z o"),   // mnx nxy xyz yzo -> dup: xyz = 1/4
      (4L, "c d e f g"))     // cde def efg -> 0/3
    val r = TextOps.dupSpanFraction(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) === ((4L, 0.5)))
    assert(r(2L) === ((4L, 0.5)))
    assert(r(3L) === ((4L, 0.25)))
    assert(r(4L) === ((3L, 0.0)))
  }

  test("perplexityBuckets terciles each language by LM score") {
    // 6 docs in one lang: common-word docs score low (fluent -> head),
    // rare-word docs high (tail); ntile(3) -> 2 docs per bucket
    val d = Seq(
      (1L, "a a a a"), (2L, "a a a b"), (3L, "a a b b"),
      (4L, "a b c d"), (5L, "e f g h"), (6L, "i j k l"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val r = TextOps.perplexityBuckets(d).collect()
      .map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(r(1L) === "head" && r(2L) === "head")
    assert(r(3L) === "middle" && r(4L) === "middle")
    assert(r(5L) === "tail" && r(6L) === "tail")
    // a second language terciles independently of the first
    val two = d.union(Seq((7L, "q q q q"), (8L, "r s t u"), (9L, "v w x y"))
      .toDF("doc_id", "text").withColumn("lang", lit("de")))
    val de = TextOps.perplexityBuckets(two).filter($"lang" === "de").collect()
      .map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(de === Map(7L -> "head", 8L -> "middle", 9L -> "tail"))
  }

  test("importanceSample: per-row weights gate membership; constant weight ≡ sample") {
    import graft.ops.Sampling
    val d = (0L until 400L).map(i => (i, if (i < 200) 0.0 else 1.0))
      .toDF("doc_id", "w")
    val kept = Sampling.importanceSample(d, $"doc_id", $"w", "s")
      .collect().map(_.getLong(0)).toSet
    // weight 0 rows can never win; weight 1 rows always do
    assert(kept === (200L until 400L).toSet)
    // a constant 0.5 weight reduces to plain rate-0.5 sampling — the
    // hex threshold spaces must agree exactly
    val const = d.withColumn("w", lit(0.5))
    val viaImportance = Sampling.importanceSample(const, $"doc_id", $"w", "s")
      .collect().map(_.getLong(0)).toSet
    val viaRate = Sampling.sample(const, $"doc_id", 0.5, "s")
      .collect().map(_.getLong(0)).toSet
    assert(viaImportance === viaRate)
    // weights outside [0,1] clamp instead of corrupting the threshold
    val wild = d.withColumn("w", when($"doc_id" < 200, -3.0).otherwise(7.5))
    assert(Sampling.importanceSample(wild, $"doc_id", $"w", "s")
      .collect().map(_.getLong(0)).toSet === (200L until 400L).toSet)
  }

  test("stratumCap keeps the n lowest-ordered rows per stratum") {
    import graft.ops.Sampling
    val d = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("doc_id", "source")
    val kept = Sampling.stratumCap(d, $"source", $"doc_id", 2)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 4L, 5L, 6L))
    assert(Sampling.stratumCap(d, $"source", $"doc_id", 2).columns.toSeq
      === Seq("doc_id", "source")) // helper column does not leak
  }

  test("weightedSample matches a reference Efraimidis–Spirakis ranking") {
    import graft.ops.Sampling
    def refKey(id: Long, w: Double): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(("es" + id.toString).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 4294967296.0
      math.log(u) / w
    }
    val rows = (1L to 100L).map(i => (i, (i % 7 + 1).toDouble))
    val expected = rows.sortBy { case (id, w) => (-refKey(id, w), id) }
      .take(10).map(_._1).toSet
    val d = rows.toDF("doc_id", "w")
    val got = Sampling.weightedSample(d, $"doc_id", $"w", 10, "es")
      .collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("count-min sketch: bounded cells, one-sided estimates, exact when wide") {
    import graft.ops.Cms
    val d = docs((1L, "a a a b b c"), (2L, "a b c d e f"))
    val sk = Cms.sketch(d, 4, 16) // narrow: collisions likely
    assert(sk.count() <= 4 * 16)
    val exact = TextOps.termFrequency(d, 10)
    Cms.estimate(sk, exact, 4, 16).collect().foreach { r =>
      assert(r.getAs[Long]("n_est") >= r.getAs[Long]("freq"),
        s"CMS must never underestimate: $r")
    }
    // wide sketch: this vocab cannot 4-row-collide in 4096 buckets, so
    // every estimate is exact
    Cms.estimate(Cms.sketch(d, 4, 4096), exact, 4, 4096).collect().foreach { r =>
      assert(r.getAs[Long]("n_est") === r.getAs[Long]("freq"))
    }
  }

  test("ngramContamination flags heldout docs sharing an n-gram with train") {
    import graft.ops.Sampling
    // recompute split membership independently of the op (md5 reference
    // implementation) so the expectation isn't circular
    def side(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(("dz" + id.toString).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      if (hex < Sampling.hexThreshold(0.5)) "train" else "heldout"
    }
    // docs 1..4 all share the 5-gram "v w x y z"; doc 5 is clean
    val d = docs(
      (1L, "v w x y z a b"), (2L, "c d v w x y z"),
      (3L, "v w x y z e f"), (4L, "g h v w x y z"),
      (5L, "m n o p q r s"))
    val sides = (1L to 5L).map(i => i -> side(i)).toMap
    // need both sides populated among the sharers for a meaningful test
    assume(sides.filter { case (k, _) => k <= 4 }.values.toSet.size === 2)
    val expected = (1L to 4L)
      .filter(i => sides(i) === "heldout")
      .filter(_ => (1L to 4L).exists(j => sides(j) === "train")).toSet
    val r = Sampling.ngramContamination(d, 0.5, "dz", 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet === expected)
    // each contaminated doc shares exactly its one 5-gram occurrence
    assert(r.values.forall(_ === 1L))
  }

  test("Bpe.merges learns frequency-ordered merges; segment replays them") {
    import graft.ops.Bpe
    // corpus: "low" ×3, "lower" ×1 — classic BPE toy. Pair counts:
    // (l,o):4  (o,w):4  (w,e):1  (e,r):1. Tie (l,o)/(o,w) → lexical
    // order picks (l,o) first; after that merge (lo,w):4 wins; then
    // (low,e):1 vs (e,r):1 → (e,r) lexically first.
    val d = docs((1L, "low low low lower"))
    val m = Bpe.merges(d, 4).orderBy($"merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m(0) === ((1, "l", "o", "lo", 4L)))
    assert(m(1) === ((2, "lo", "w", "low", 4L)))
    assert(m(2) === ((3, "e", "r", "er", 1L)))
    assert(m(3) === ((4, "low", "er", "lower", 1L)))
    // segment replays the table: both words collapse to one piece
    val seg = Bpe.segment(d, Bpe.merges(d, 4)).collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(seg("low") === Seq("low"))
    assert(seg("lower") === Seq("lower"))
    // a run of identical chars reaches the documented replace-pass
    // fixpoint deterministically
    val runs = Bpe.merges(docs((1L, "aaaa bb")), 1).collect()
    assert(runs.head.getString(3) === "aa") // (a,a) wins with count 3
  }

  test("Hll sketch merges exactly across shards and estimates within HLL error") {
    import graft.ops.Hll
    // 2000 distinct values split across 3 disjoint shards
    val all = spark.range(2000L)
      .select(lit("g").as("g"), concat(lit("v"), $"id").as("word"))
    val shards = Seq(
      all.filter($"word".substr(2, 10).cast("long") % 3 === 0),
      all.filter($"word".substr(2, 10).cast("long") % 3 === 1),
      all.filter($"word".substr(2, 10).cast("long") % 3 === 2))
    val direct = Hll.sketch(all, Seq("g"), $"word", 9)
    val merged = Hll.merge(shards.map(Hll.sketch(_, Seq("g"), $"word", 9)), Seq("g"))
    // mergeability is EXACT (max is associative+idempotent): the merged
    // register frame equals the direct one row-for-row
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
    val est = Hll.estimate(direct, Seq("g"), 9).collect()(0).getDouble(1)
    // standard error at m=512 is 1.04/sqrt(512) ≈ 4.6%; 3σ bound
    assert(math.abs(est - 2000.0) / 2000.0 < 0.14, s"estimate $est")
    // duplicate occurrences never move a register: the sketch of the
    // corpus ×3 is identical to the sketch of the corpus
    val tripled = Hll.sketch(all.union(all).union(all), Seq("g"), $"word", 9)
    assert(tripled.except(direct).isEmpty && direct.except(tripled).isEmpty)
    // small range exercises the linear-counting branch and stays tight
    val small = all.limit(40)
    val se = Hll.estimate(Hll.sketch(small, Seq("g"), $"word", 9), Seq("g"), 9)
      .collect()(0).getDouble(1)
    assert(math.abs(se - 40.0) < 4.0, s"small-range estimate $se")
  }

  test("IncrView merge equals full rebuild at every batch boundary") {
    import graft.ops.IncrView
    val rows = spark.range(200L)
      .select(($"id" % 7).as("k"), ($"id" * 13 % 101).as("v"))
    val batches = Seq(
      rows.filter($"v" % 3 === 0), rows.filter($"v" % 3 === 1),
      rows.filter($"v" % 3 === 2))
    def eq(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.except(b).isEmpty && b.except(a).isEmpty
    var state = IncrView.build(batches.head, Seq("k"), $"v")
    var seen = batches.head
    for (delta <- batches.tail) {
      state = IncrView.merge(state, delta, Seq("k"), $"v")
      seen = seen.union(delta)
      assert(eq(state, IncrView.build(seen, Seq("k"), $"v")))
    }
    // empty delta is the identity
    assert(eq(IncrView.merge(state, rows.filter(lit(false)), Seq("k"), $"v"), state))
    // a delta of only-new keys appends them without touching old rows
    val novel = spark.range(3L).select(($"id" + 100).as("k"), lit(5L).as("v"))
    val withNew = IncrView.merge(state, novel, Seq("k"), $"v")
    assert(withNew.filter($"k" >= 100).count() === 3)
    assert(eq(withNew.filter($"k" < 100), state))
  }

  test("Fuzzy deletion-neighborhood join has complete recall vs the quadratic join") {
    import graft.ops.Fuzzy
    // planted edit classes vs "spark engine": substitution, deletion,
    // insertion, identity, distance-2, and a far decoy
    val right = Seq((1L, "spark engine"), (2L, "flink runner")).toDF("rk", "rname")
    val left = Seq(
      (10L, "spark enginx"), // substitution (dist 1)
      (11L, "spark engin"),  // deletion (dist 1)
      (12L, "sparkk engine"), // insertion (dist 1)
      (13L, "spark engine"), // identity (dist 0)
      (14L, "spark enginxx"), // dist 2
      (15L, "postgres")      // far
    ).toDF("lk", "lname")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"lk", $"rk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quad1 = left.crossJoin(right)
      .filter(levenshtein($"lname", $"rname") <= 1)
    assert(pairs(Fuzzy.fuzzyJoin(left, right, "lname", "rname", 1)) === pairs(quad1))
    assert(pairs(quad1) === Set((10L, 1L), (11L, 1L), (12L, 1L), (13L, 1L)))
    // k=2 finds the distance-2 pair the k=1 neighborhood must not
    val quad2 = left.crossJoin(right)
      .filter(levenshtein($"lname", $"rname") <= 2)
    assert(pairs(Fuzzy.fuzzyJoin(left, right, "lname", "rname", 2)) === pairs(quad2))
    assert(pairs(quad2).contains((14L, 1L)))
    // dist column is the true edit distance
    val d = Fuzzy.fuzzyJoin(left, right, "lname", "rname", 1)
      .filter($"lk" === 13L).select($"dist").collect()(0).getInt(0)
    assert(d === 0)
  }

  test("Ivf.semanticComponents groups planted near-copies, keeps min id") {
    import graft.ops.Ivf
    // two well-separated base directions in 4-dim space; vectors 0,1,2
    // are near-copies of each other, 3,4 of each other, 5 is alone
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, vec(1, 0, 0, 0)), (1L, vec(0.999, 0.001, 0, 0)), (2L, vec(0.998, 0.002, 0, 0)),
      (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0, 0.999, 0.001)),
      (5L, vec(0.7, 0.7, 0.1, 0.1)))
    val corpus = rows.toDF("vec_id", "embedding")
    val r = Ivf.semanticComponents(corpus, 0.99, k = 2, iters = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(0L) === ((0L, true)) && r(1L) === ((0L, false)) && r(2L) === ((0L, false)))
    assert(r(3L) === ((3L, true)) && r(4L) === ((3L, false)))
    assert(r(5L) === ((5L, true))) // below threshold → singleton keeper
    assert(r.size === 6)
  }

  test("Cdc.apply: newest op wins, deletes tombstone, re-insert revives") {
    import graft.ops.Cdc
    val log = Seq(
      (1L, 1L, "I", 10L), (1L, 2L, "U", 20L),              // plain upsert
      (2L, 1L, "I", 30L), (2L, 2L, "D", 0L),               // deleted
      (3L, 1L, "I", 40L), (3L, 2L, "D", 0L), (3L, 3L, "I", 50L), // revived
      (4L, 1L, "I", 60L)                                    // untouched
    ).toDF("k", "seq", "op", "v")
    val r = Cdc.apply(log, Seq("k"), "seq", "op")
      .collect().map(x => x.getAs[Long]("k") -> (x.getAs[Long]("seq"), x.getAs[Long]("v"))).toMap
    assert(r === Map(1L -> ((2L, 20L)), 3L -> ((3L, 50L)), 4L -> ((1L, 60L))))
  }

  test("Cdc.applyAt: checkpoint+tail read equals full replay at every version") {
    import graft.ops.Cdc
    val log = Seq(
      (1L, 1L, "I", 10L), (1L, 2L, "U", 20L),
      (2L, 1L, "I", 30L), (2L, 2L, "D", 0L),               // dies at v2
      (3L, 1L, "I", 40L), (3L, 2L, "D", 0L), (3L, 3L, "I", 50L), // revived at v3
      (4L, 1L, "I", 60L), (4L, 4L, "D", 0L)                // dies last
    ).toDF("k", "seq", "op", "v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getAs[Long]("k") -> (x.getAs[Long]("seq"), x.getAs[Long]("v"))).toMap
    // every (checkpoint c, version v ≥ c) pair must agree with replay;
    // the checkpoint crosses tombstones (c=2 drops key 2) and revivals
    for (v <- 1L to 4L; c <- 1L to v) {
      val ckpt = Cdc.applyAt(log, Seq("k"), "seq", "op", c)
      val fast = snap(Cdc.applyAt(log, Seq("k"), "seq", "op", v, c, ckpt))
      assert(fast === snap(Cdc.applyAt(log, Seq("k"), "seq", "op", v)),
        s"checkpoint $c, version $v diverged from replay")
    }
    // version sequence is the expected table history
    assert(snap(Cdc.applyAt(log, Seq("k"), "seq", "op", 2)) ===
      Map(1L -> ((2L, 20L)), 4L -> ((1L, 60L))))
    assert(snap(Cdc.applyAt(log, Seq("k"), "seq", "op", 3)) ===
      Map(1L -> ((2L, 20L)), 3L -> ((3L, 50L)), 4L -> ((1L, 60L))))
    // log compaction: every version at-or-after the checkpoint reads
    // identically from the compacted log; the prefix is gone
    for (c <- 1L to 4L) {
      val compacted = Cdc.compactLog(log, Seq("k"), "seq", "op", c)
      assert(compacted.filter($"seq" < c && $"op" =!= "I").count() === 0)
      for (v <- c to 4L)
        assert(snap(Cdc.applyAt(compacted, Seq("k"), "seq", "op", v)) ===
          snap(Cdc.applyAt(log, Seq("k"), "seq", "op", v)),
          s"compacted at $c diverged at version $v")
    }
    // compacting at 2 drops key 2's insert+tombstone entirely
    assert(Cdc.compactLog(log, Seq("k"), "seq", "op", 2)
      .filter($"k" === 2L).count() === 0)
  }

  test("Bm25.topK: rare terms outrank common, shorter docs outrank longer") {
    import graft.ops.Bm25
    val corpus = docs(
      (1L, "spark rare"),                       // rare term, short doc
      (2L, "spark rare filler filler filler filler filler filler"), // rare term, long doc
      (3L, "spark common common"),
      (4L, "common common common"),
      (5L, "other text entirely"))
    val qs = Seq((0L, "rare"), (1L, "spark rare")).toDF("q_id", "q_text")
    val r = Bm25.topK(corpus, qs, 10).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getDouble(2), x.getInt(3))).toMap
    // only docs containing a query term are scored at all
    assert(!r.keys.exists(_._2 == 5L) && !r.keys.exists(k => k._1 == 0L && k._2 >= 3L))
    // length normalization: same tf of 'rare', shorter doc wins
    assert(r((0L, 1L))._2 === 1 && r((0L, 2L))._2 === 2)
    // multi-term query: doc 1 matches both terms and stays on top
    assert(r((1L, 1L))._2 === 1)
    // 'rare' (df=2) must contribute more than 'spark' (df=3): doc 2
    // (both terms, long) still outranks doc 3 (spark only, short)
    assert(r((1L, 2L))._1 > r((1L, 3L))._1)
  }

  test("sequenceMatch finds ordered subsequences, rejects out-of-order") {
    import graft.ops.EventWindows
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val ev = Seq(
      // user 1: view .. click .. purchase with noise — matches
      (1L, t(1), 1L, "view"), (2L, t(2), 1L, "error"), (3L, t(3), 1L, "click"),
      (4L, t(4), 1L, "signup"), (5L, t(5), 1L, "purchase"),
      // user 2: purchase BEFORE the view/click — out of order, no match
      (6L, t(1), 2L, "purchase"), (7L, t(2), 2L, "view"), (8L, t(3), 2L, "click"),
      // user 3: contiguous exact path — matches
      (9L, t(1), 3L, "view"), (10L, t(2), 3L, "click"), (11L, t(3), 3L, "purchase"),
      // user 4: missing the middle step
      (12L, t(1), 4L, "view"), (13L, t(2), 4L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val r = EventWindows.sequenceMatch(ev, Seq("view", "click", "purchase"))
      .collect().map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(r === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    // same-timestamp steps resolve by event_id: click(id 20) before
    // purchase(id 21) at the same instant still matches
    val tie = Seq(
      (19L, t(1), 9L, "view"), (20L, t(2), 9L, "click"), (21L, t(2), 9L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val r2 = EventWindows.sequenceMatch(tie, Seq("view", "click", "purchase"))
      .collect().map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(r2(9L) === true)
  }

  test("sequenceMatch: a delimiter-bearing event type cannot inject step boundaries") {
    import graft.ops.EventWindows
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    // user 5 has NO click event — "view,click" is one (malformed) type;
    // with a comma-joined path it would falsely complete view→click
    val ev = Seq(
      (1L, t(1), 5L, "view"), (2L, t(2), 5L, "view,click"), (3L, t(3), 5L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val r = EventWindows.sequenceMatch(ev, Seq("view", "click"))
      .collect().map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(r === Map(5L -> false))
  }

  test("joinSizeEstimate: disjoint key sets estimate 0, not an empty frame") {
    import graft.ops.Cms
    val a = Seq.tabulate(50)(i => s"a$i").toDF("k")
    val b = Seq.tabulate(50)(i => s"b$i").toDF("k")
    val ska = Cms.sketchValues(a, col("k"), 4, 64)
    val skb = Cms.sketchValues(b, col("k"), 4, 64)
    val est = Cms.joinSizeEstimate(ska, skb).collect()
    assert(est.length === 1)
    // one-sided: est >= exact (= 0); a row with zero cell overlap must
    // pull the min toward 0 rather than vanish from it
    assert(est(0).getLong(0) >= 0L)
    // the self-join estimate stays exact-or-over, sanity anchor
    val self = Cms.joinSizeEstimate(ska, ska).collect()(0).getLong(0)
    assert(self >= 50L)
  }

  test("snapshotDiff: NULL keys match null-safely; __-prefixed user columns survive") {
    import graft.ops.Diff
    val old = Seq((Some(1L), "a"), (None, "n"), (Some(3L), "c"))
      .toDF("k", "v")
    val neu = Seq((Some(1L), "a"), (None, "n2"), (Some(4L), "d"))
      .toDF("k", "v")
    val d = Diff.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toMap
    // NULL key: matched pair, value changed — NOT removed+added
    assert(d === Map(-1L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("cosine_similarity SQL function plans the same fused native expression") {
    val df = Seq(
      (1L, Array(2f, 0f, 0f), Array(2f, 0f, 0f)), // exact norms → sim exactly 1.0
      (2L, Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (3L, Array(0.3f, -0.7f, 0.1f), Array(-0.2f, 0.9f, 0.4f))
    ).toDF("id", "a", "b")
    df.createOrReplaceTempView("vecs_sql_fn")
    val sql = spark.sql("SELECT id, cosine_similarity(a, b) AS sim FROM vecs_sql_fn")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sql(1L) === 1.0 && sql(2L) === 0.0)
    // bit-identical to the Column-API path on arbitrary vectors
    val api = df.select($"id",
        graft.functions.VectorExpressions.cosineNative($"a", $"b").as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sql === api)
    // arity is enforced at plan time
    intercept[Exception](spark.sql("SELECT cosine_similarity(a) FROM vecs_sql_fn").collect())
  }

  test("Diff.snapshotDiff classifies added/removed/changed with null-safe compare") {
    import graft.ops.Diff
    val o = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, None: Option[Long]), (4L, Some(40L)))
      .toDF("k", "v")
    val n = Seq((2L, Some(21L)), (3L, None: Option[Long]), (4L, Some(40L)), (5L, Some(50L)),
      (6L, None: Option[Long])).toDF("k", "v")
    val r = Diff.snapshotDiff(o, n, Seq("k"), Seq("v"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    // 1 removed, 2 changed, 3 NULL→NULL unchanged (dropped), 4 equal
    // (dropped), 5 added, 6 added with NULL payload
    assert(r === Map(1L -> "removed", 2L -> "changed", 5L -> "added", 6L -> "added"))
    // value→NULL is a change, not a removal
    val r2 = Diff.snapshotDiff(o, Seq((1L, None: Option[Long])).toDF("k", "v"), Seq("k"), Seq("v"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r2(1L) === "changed")
  }

  test("Profile.profile computes per-column stats in one pass, nulls counted") {
    import graft.ops.Profile
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]), (4L, Some("a"))
    ).toDF("id", "s")
    val r = Profile.profile(df, Seq("id", "s"))
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4), x.getString(5)))).toMap
    assert(r("id") === ((4L, 0L, 4L, "1", "4")))
    assert(r("s") === ((4L, 1L, 2L, "a", "b"))) // nulls excluded from distinct/min/max
  }

  test("Expect checks catch nulls, dups, orphans, and null-predicate rows") {
    import graft.ops.Expect
    val child = Seq((1L, Some(10L)), (2L, Some(10L)), (2L, Some(99L)), (3L, None: Option[Long]))
      .toDF("id", "fk")
    val parent = Seq(10L).toDF("pk")
    val rpt = Expect.report(Seq(
      "fk_not_null" -> Expect.notNullViolations(child, "fk"),
      "id_unique" -> Expect.uniqueViolations(child, Seq("id")),
      "fk_valid" -> Expect.fkViolations(child, parent, "fk", "pk"),
      "fk_small" -> Expect.predicateViolations(child, $"fk" < 50)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rpt("fk_not_null") === 1) // id 3
    assert(rpt("id_unique") === 1)   // id 2 twice → one violated key
    assert(rpt("fk_valid") === 1)    // fk 99 orphaned; null fk NOT an orphan
    assert(rpt("fk_small") === 2)    // fk 99 fails, null fk counts as violation
  }

  test("Quantiles.exactPercentiles equals direct rank selection, no sort") {
    import graft.ops.Quantiles
    // scrambled values 1..1000: rank ceil(p*n) is closed-form
    val df = spark.range(1L, 1001L)
      .select((($"id" * 467) % 1000 + 1).as("x")) // bijection on 1..1000
    def got(ps: Seq[Double], buckets: Int) =
      Quantiles.exactPercentiles(df, "x", ps, buckets)
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // with 8 buckets the 1..1000 domain needs 4 narrowing rounds — the
    // loop, not a lucky single pass, produces these
    val r = got(Seq(0.5, 0.9, 0.99, 1.0), 8)
    assert(r === Map(0.5 -> 500L, 0.9 -> 900L, 0.99 -> 990L, 1.0 -> 1000L))
    // all-equal corpus: converges without any within-bucket sort
    val const = spark.range(100L).select(lit(7L).as("x"))
    assert(Quantiles.exactPercentiles(const, "x", Seq(0.5)).collect()(0).getLong(1) === 7L)
    // tiny n: p=0.5 of [10, 20] is rank ceil(1) = the first value
    val two = Seq(10L, 20L).toDF("x")
    assert(Quantiles.exactPercentiles(two, "x", Seq(0.5)).collect()(0).getLong(1) === 10L)
  }

  test("retention buckets users by first-seen day and offset") {
    import graft.ops.EventWindows
    import java.sql.Timestamp
    def t(d: Int, h: Int) = Timestamp.valueOf(f"2026-01-$d%02d $h%02d:00:00")
    val ev = Seq(
      (1L, t(1, 9)), (1L, t(1, 17)), (1L, t(2, 9)), (1L, t(9, 9)), // day-0 twice→once, day-1, day-8 (beyond 7)
      (2L, t(1, 10)), (2L, t(3, 10)),                               // cohort 1: day 0, day 2
      (3L, t(2, 8))                                                 // cohort 2: day 0 only
    ).toDF("user_id", "ts")
    val r = EventWindows.retention(ev, 7)
      .collect().map(x => (x.getDate(0).toString, x.getInt(1)) -> x.getLong(2)).toMap
    assert(r === Map(
      ("2026-01-01", 0) -> 2L, // users 1 and 2, day-0 dedup to one each
      ("2026-01-01", 1) -> 1L, // user 1 next day
      ("2026-01-01", 2) -> 1L, // user 2 two days later
      ("2026-01-02", 0) -> 1L  // user 3's own cohort; user 1's day-2 visit is offset 1 of cohort 1
    ))
  }

  test("Pca.powerIteration recovers a planted dominant direction") {
    import graft.ops.Pca
    // 40 vectors strongly aligned with (0.6, 0.8, 0) plus 4 small
    // off-axis vectors: the dominant second-moment direction is the
    // planted one (sign fixed by the e1 seed's positive projection)
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val planted = (1L to 40L).map { i =>
      val s = if (i % 2 == 0) 1.0 else 0.9
      (i, vec(0.6 * s, 0.8 * s, 0.0))
    }
    val noise = Seq(
      (100L, vec(0.05, 0.0, 0.2)), (101L, vec(-0.03, 0.02, -0.15)),
      (102L, vec(0.0, -0.04, 0.1)), (103L, vec(0.02, 0.01, 0.12)))
    val corpus = (planted ++ noise).toDF("vec_id", "embedding")
    val v = Pca.powerIteration(corpus, 5)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(v(0) - 0.6) < 0.02, s"dim0 ${v(0)}")
    assert(math.abs(v(1) - 0.8) < 0.02, s"dim1 ${v(1)}")
    assert(math.abs(v(2)) < 0.05, s"dim2 ${v(2)}")
    // unit norm (up to rounding)
    val nrm = math.sqrt(v.values.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-3)
    // residual removal: a vector ON the direction residualizes to ~0,
    // an orthogonal one keeps its norm
    val dir = Pca.direction(corpus, 5)
    val probe = Seq((200L, vec(0.6, 0.8, 0.0)), (201L, vec(0.0, 0.0, 0.5)))
      .toDF("vec_id", "embedding")
    val res = Pca.residualNorms(probe, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(res(200L) < 0.03, s"aligned residual ${res(200L)}")
    assert(math.abs(res(201L) - 0.5) < 0.02, s"orthogonal residual ${res(201L)}")
  }

  test("Cms.joinSizeEstimate is one-sided and exact without collisions") {
    import graft.ops.Cms
    // multiplicities: key 1 ×3 on A, ×2 on B → 6 pairs; key 2 ×1/×1 → 1;
    // key 3 only on A → 0. Exact join size = 7.
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")
    val b = Seq(1L, 1L, 2L, 9L).toDF("k")
    val est = Cms.joinSizeEstimate(
      Cms.sketchValues(a, $"k", 4, 1024),
      Cms.sketchValues(b, $"k", 4, 1024)).collect()(0).getLong(0)
    val exact = a.join(b, "k").count()
    assert(exact === 7L)
    assert(est >= exact)     // one-sided always
    assert(est === exact,    // 4 keys in 1024 buckets: no collisions
      s"estimate $est should be exact at this scale")
  }

  test("mixtureRates downsamples toward target token shares, never upsamples") {
    import graft.ops.Sampling
    // a: 100 tokens, b: 300 — target 50/50. c = min(100/.5, 300/.5)=200
    // -> a keeps everything (rate 1.0), b keeps 1/3 of its tokens
    val r = Sampling.mixtureRates(Map("a" -> 100L, "b" -> 300L),
      Map("a" -> 0.5, "b" -> 0.5))
    assert(r("a") === 1.0)
    assert(math.abs(r("b") - 1.0 / 3.0) < 1e-12)
    // sources without a share are dropped; zero shares are ignored
    val r2 = Sampling.mixtureRates(Map("a" -> 10L, "b" -> 10L, "c" -> 10L),
      Map("a" -> 0.8, "b" -> 0.2, "z" -> 0.0))
    assert(r2.keySet === Set("a", "b"))
    assert(r2("a") === 1.0 && math.abs(r2("b") - 0.25) < 1e-12)
  }

  test("temperatureShares: the alpha knob's endpoints and closed form") {
    import graft.ops.Sampling
    val totals = Map("web" -> 900L, "code" -> 100L, "books" -> 25L)
    // alpha = 1: natural proportions — the mixture is a no-op (every
    // rate 1.0; shares are scale-invariant through mixtureRates)
    val nat = Sampling.mixtureRates(totals, Sampling.temperatureShares(totals, 1.0))
    assert(nat.values.forall(_ == 1.0))
    // alpha = 0: equalize — every source downsampled to the smallest
    val eq = Sampling.mixtureRates(totals, Sampling.temperatureShares(totals, 0.0))
    assert(eq("books") == 1.0 &&
      math.abs(eq("web") - 25.0 / 900) < 1e-12 &&
      math.abs(eq("code") - 25.0 / 100) < 1e-12)
    // alpha = 0.5: the closed form rate_s = min(1, sqrt(n_min/n_s)) —
    // the normalizer cancels, so no cross-source sum enters the chain
    val t = Sampling.mixtureRates(totals, Sampling.temperatureShares(totals, 0.5))
    assert(t("books") == 1.0 &&
      math.abs(t("web") - math.sqrt(25.0 / 900)) < 1e-12 &&
      math.abs(t("code") - math.sqrt(25.0 / 100)) < 1e-12)
    intercept[IllegalArgumentException](Sampling.temperatureShares(totals, 1.5))
  }

  test("pageRank: cycle is uniform, hubs outrank leaves, mass conserved") {
    import graft.ops.PageRank
    // 3-cycle: uniform 1/3 is the exact stationary distribution, and
    // the float-quantized update maps it to itself — every iterate
    // stays at the float of 1/3
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cr = PageRank.ranks(cycle, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val third = (1.0 / 3).toFloat.toDouble
    assert(cr.size === 3)
    cr.values.foreach(v => assert(math.abs(v - third) < 1e-7))
    // hub graph: every node has out-degree ≥ 1 → no dangling mass,
    // ranks sum to 1; the in-degree-3 hub outranks every leaf
    val hub = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L)).toDF("src", "dst")
    val hr = PageRank.ranks(hub, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(hr.values.sum - 1.0) < 1e-6)
    assert(hr(1L) > hr(2L) && hr(2L) > hr(3L) && hr(3L) === hr(4L))
  }

  test("pageRank: dangling nodes leak mass (documented contract); reliable checkpoint path agrees") {
    import graft.ops.PageRank
    // node 2 has no out-edges: its damped mass leaks each iteration
    val dangling = Seq((1L, 2L)).toDF("src", "dst")
    val dr = PageRank.ranks(dangling, iters = 5).collect().map(_.getDouble(1))
    assert(dr.sum < 1.0 - 1e-3)
    // the reliable-checkpoint loop (cluster path) is result-identical
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt").toString
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val local = PageRank.ranks(cycle, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val reliable = withCheckpointDir(spark, dir) { PageRank.ranks(cycle, iters = 3).collect() }
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(local === reliable)
    assert(spark.sparkContext.getCheckpointDir === None)
  }

  test("personalizedRanks restarts only to seeds; unreachable nodes get zero") {
    import graft.ops.PageRank
    // 1↔2 cycle plus 3→2: nothing reaches 3, restart goes to seed 1
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = PageRank.personalizedRanks(edges, seeds, iters = 10).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(3L) === 0.0)                        // no restart, no in-mass
    assert(r(1L) > r(2L) && r(2L) > 0.0)         // seed closest to itself
    assert(math.abs(r(1L) + r(2L) - 1.0) < 1e-6) // no dangling → conserved
    // a seed absent from the graph joins in isolated: restart mass
    // only, nothing to pass on
    val r2 = PageRank.personalizedRanks(edges, Seq(1L, 9L).toDF("node"), iters = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r2.contains(9L) && math.abs(r2(9L) - 0.075) < 1e-6)
  }

  test("Triangles: K4-minus-an-edge counts per corner; reversed duplicates collapse") {
    import graft.ops.Triangles
    // K4 without edge 3-4: triangles {1,2,3} and {1,2,4}; some edges
    // appear in both directions and must collapse to one
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 2L), (2L, 4L))
      .toDF("src", "dst")
    val r = Triangles.perNode(edges).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) === ((3L, 2L, 0.666667)))  // 2 triangles over C(3,2)=3 wedges
    assert(r(2L) === ((3L, 2L, 0.666667)))
    assert(r(3L) === ((2L, 1L, 1.0)))       // both neighbors adjacent
    assert(r(4L) === ((2L, 1L, 1.0)))
    assert(Triangles.globalCount(edges).collect()(0).getLong(0) === 2L)
    // a path has wedges but no closures
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Triangles.globalCount(path).collect()(0).getLong(0) === 0L)
    assert(Triangles.perNode(path).collect().forall(_.getLong(2) === 0L))
  }

  test("RRF fusion: consensus items outrank single-system hits; absent systems contribute zero") {
    import graft.ops.Fusion
    // system A ranks docs 10,11,12; system B ranks 11,12,13.
    // doc 11 (ranks 2+1) and 12 (3+2) appear in both; 10 and 13 in one
    val a = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3)).toDF("q_id", "doc_id", "rank")
    val b = Seq((0L, 11L, 1), (0L, 12L, 2), (0L, 13L, 3)).toDF("q_id", "doc_id", "rank")
    val fused = Fusion.rrf(Seq(a, b), 10).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byDoc = fused.map(t => t._1 -> t._2).toMap
    def t(r: Int) = 1.0 / (60 + r)
    assert(math.abs(byDoc(11L) - (t(2) + t(1))) < 1e-6) // rrf is rounded 6dp
    assert(math.abs(byDoc(10L) - t(1)) < 1e-6)        // single-system term only
    // consensus doc 11 beats the single-system rank-1 doc 10
    val order = fused.sortBy(_._3).map(_._1)
    assert(order.head === 11L && order.take(3).contains(12L))
    assert(fused.map(_._3).sorted.toSeq === Seq(1, 2, 3, 4))
    // k bounds the fused list
    assert(Fusion.rrf(Seq(a, b), 2).count() === 2)
  }

  test("BoundedTopK equals the window top-k, partial-aggregates map-side, handles edges") {
    import graft.functions.TopK
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random scores over 40 keys × 500 rows,
    // spread over 4 partitions so partial buffers genuinely merge
    val df = spark.range(20000L).repartition(4)
      .select(($"id" % 40).as("k"), ($"id" * 2654435761L % 1000003L).as("score"), $"id")
      .localCheckpoint(true)
    val viaAgg = df
      .groupBy($"k")
      .agg(TopK.topKSmallest(struct($"score", $"id"), 7).as("tk"))
      .select($"k", posexplode($"tk").as(Seq("pos", "e")))
      .select($"k", ($"pos" + 1).as("rank"), $"e.score".as("score"), $"e.id".as("id"))
    val w = Window.partitionBy($"k").orderBy($"score", $"id")
    val viaWindow = df
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 7)
      .select($"k", $"rank", $"score", $"id")
    assert(viaAgg.except(viaWindow).isEmpty && viaWindow.except(viaAgg).isEmpty)
    assert(viaAgg.count() === 40L * 7)
    // the aggregate must plan PARTIAL (map-side) before the exchange —
    // the whole point vs the window's full-frame shuffle
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_bounded_top_k"), plan.take(500))
    // groups smaller than k return every row; a NULL child is skipped
    // (struct-wrapped null FIELDS are kept — wrap only non-null keys)
    val small = Seq((1L, java.lang.Long.valueOf(5L)), (1L, null), (2L, java.lang.Long.valueOf(9L)))
      .toDF("k", "v")
      .groupBy($"k").agg(TopK.topKSmallest($"v", 3).as("tk"))
      .select($"k", size($"tk").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(small === Map(1L -> 1, 2L -> 1))
  }

  test("weightedRanks favors heavy edges; equal weights reduce to uniform PageRank") {
    import graft.ops.PageRank
    // node 1 sends 3/4 of its mass to 2 and 1/4 to 3; uniform would tie
    val skewed = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val r = PageRank.weightedRanks(skewed, iters = 8).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) > r(3L))
    assert(math.abs(r.values.sum - 1.0) < 1e-6) // all nodes emit → conserved
    // exact powers of two make w/wsum ≡ 1/outdeg bit-for-bit, so the
    // weighted loop must reproduce the uniform ranks exactly
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val uniform = PageRank.ranks(cycle, iters = 4).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val viaWeights = PageRank.weightedRanks(
      cycle.withColumn("w", lit(0.5)), iters = 4).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(uniform === viaWeights)
  }

  test("knnEdges emits exactly k out-edges per vector toward its nearest neighbors") {
    import graft.ops.PageRank
    // 1 & 2 nearly parallel, 3 orthogonal-ish: each picks its closest
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val e = PageRank.knnEdges(emb, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e === Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    val e2 = PageRank.knnEdges(emb, 2)
    assert(e2.groupBy("src").count().collect().forall(_.getLong(1) === 2L))
  }

  test("prefixFilteredPairs: complete at the threshold, silent below it") {
    import graft.ops.Dedup
    val base = "the quick brown fox jumps over the lazy dog near the old barn"
    val d = docs(
      (1L, base),
      (2L, base + " tonight"),                   // one extra trailing shingle
      (3L, "a completely different text about spark shuffles and joins here"),
      (4L, "the quick brown fox sleeps all day long under a warm porch roof"))
    val pairs = Dedup.prefixFilteredPairs(d, 0.7).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // docs 1/2 differ by one trailing word → high-jaccard pair
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) >= 0.7)
    // the shared-prefix pair 1/4 (jaccard ~0.2) must NOT pass
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((3L, 4L)))
    // completeness vs brute force at a lower threshold
    val bf = Dedup.jaccardPairs(d, 100, maxDf = 1000).collect()
      .filter(_.getDouble(2) >= 0.3).map(r => (r.getLong(0), r.getLong(1))).toSet
    val pf = Dedup.prefixFilteredPairs(d, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pf === bf)
  }

  test("clusterOutliers: the planted stray is its cluster's most negative z") {
    import graft.ops.Ivf
    // seeds (ids 0, 1) anchor two clusters; id 7 sits between but
    // lands in cluster 0 and is far from everything there
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.995f, 0.1f)), (3L, Array(0.99f, -0.1f)),
      (4L, Array(0.9f, 0.2f)), (5L, Array(0.1f, 0.995f)),
      (6L, Array(-0.1f, 0.99f)), (7L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    val out = Ivf.clusterOutliers(emb, k = 2, iters = 2, topN = 3).collect()
    assert(out.head.getLong(0) === 7L) // most negative z first
    assert(out.head.getDouble(2) < 0)
  }

  test("weightedCore: clique survives, pendant dies, cascades empty a chain") {
    import graft.ops.KCore
    // K4 at w=1.7 per edge (each member keeps 5.1 ≥ 4.5) + a pendant
    // at w=1.0 (keeps 1.0 — peels without harming the clique)
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b, 1.7)) :+ ((1L, 5L, 1.0))
    val core = KCore.weightedCore(k4.toDF("a", "b", "w"), 4.5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(core.keySet === Set(1L, 2L, 3L, 4L))
    // node 1's pendant edge is gone: in-core degree is 3 × 1.7
    assert(math.abs(core(1L) - 5.1) < 1e-6)
    // a chain where every interior node is safe UNTIL an endpoint
    // peels: the cascade must empty it, not stop after one round
    val chain = Seq((1L, 2L, 5.0), (2L, 3L, 5.0), (3L, 4L, 5.0)).toDF("a", "b", "w")
    assert(KCore.weightedCore(chain, 6.0).count() === 0L)
    // unweighted k-core is the w ≡ 1 special case: τ=3 keeps only K4
    val unw = k4.map { case (a, b, _) => (a, b, 1.0) }
    assert(KCore.weightedCore(unw.toDF("a", "b", "w"), 3.0).collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("dupMaxRun: maximal cross-doc duplicated spans via gaps-and-islands") {
    import graft.ops.TextOps
    val d = docs(
      (1L, "aa bb p q r s t cc dd"),          // shares "p q r s t" with 2
      (2L, "xx p q r s t yy zz ww"),
      (3L, "mm nn oo pp qq rr"),               // nothing shared
      (4L, "ll kk ll kk ll kk ll"),            // internal repetition only
      (5L, "aa1 bb1 p q r s t cc1 u v w x y dd1"), // two spans with 6
      (6L, "zz1 p q r s t qq1 u v w x y nn1"))
    val r = TextOps.dupMaxRun(d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Int]("max_dup_span_tokens"), x.getAs[Int]("n_dup_spans")))).toMap
    // a shared 5-token phrase = 3 consecutive duplicated 3-gram
    // positions = span of 3 + 2 tokens
    assert(r(1L) === ((5, 1)) && r(2L) === ((5, 1)))
    assert(r(3L) === ((0, 0)))
    // repetition within ONE doc is not cross-doc duplication (df = 1)
    assert(r(4L) === ((0, 0)))
    // two disjoint shared spans stay two islands
    assert(r(5L) === ((5, 2)) && r(6L) === ((5, 2)))
  }

  test("correlated subqueries decorrelate: EXISTS → semi join, scalar agg → join, not per-row") {
    import graft.queries.StarQueries
    val orders = Seq((1L, "1-URGENT", 10.0), (2L, "5-LOW", 20.0))
      .toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    val li = Seq((1L, 5.0, 100.0, "R", 7L), (2L, 50.0, 200.0, "N", 7L))
      .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_partkey")
    val q4 = StarQueries.q4PriorityExists(spark, orders, li)
    val plan = q4.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"EXISTS should decorrelate to a semi join:\n$plan")
    assert(q4.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === Map("1-URGENT" -> 1L))
    // scalar correlated subquery: one per-key aggregate joined back —
    // the optimized plan must contain NO subquery expression remnant
    val part = Seq((7L, "Brand#1")).toDF("p_partkey", "p_brand")
    val q17 = StarQueries.q17SmallQuantity(spark, part, li)
    val p17 = q17.queryExecution.optimizedPlan.toString
    assert(!p17.toLowerCase.contains("scalar-subquery"),
      s"scalar subquery should decorrelate into a join:\n$p17")
    // avg qty for part 7 = 27.5; threshold 5.5 admits only the 5.0 row
    assert(q17.collect()(0).getDouble(0) === BigDecimal(100.0 / 7.0)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  // a clearly in-band document (48 tokens, mean length 4, stopwords
  // present) and a clearly out-of-band one (150 single-char tokens,
  // no stopwords) — the rule label and a linear boundary both separate
  private def lrCorpus = {
    val good = ("the table scan fast " * 12).trim
    val bad = ("x " * 150).trim
    (0 until 8).map(i =>
      (i.toLong, if (i % 2 == 0) good else bad)).toDF("doc_id", "text")
  }

  test("Classifier.features: band rule labels, distance features") {
    import graft.ops.Classifier
    val f = Classifier.features(lrCorpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(f(0L).getAs[Double]("y") === 1.0) // in-band
    assert(f(1L).getAs[Double]("y") === 0.0) // out-of-band
    assert(f(0L).getAs[Double]("x0") === 1.0)
    // good doc: 48 tokens → |48-50|/50; mean len 4 → |4-6|/6
    assert(math.abs(f(0L).getAs[Double]("x1") - 0.04) < 1e-12)
    assert(math.abs(f(0L).getAs[Double]("x2") - 2.0 / 6.0) < 1e-12)
    assert(f(0L).getAs[Double]("x3") > 0) // stopwords present
    assert(f(1L).getAs[Double]("x3") === 0.0)
  }

  test("Classifier learns to separate the rule classes; deterministic retrain") {
    import graft.ops.Classifier
    val w1 = Classifier.train(lrCorpus, iters = 30, lr = 10.0)
    val w2 = Classifier.train(lrCorpus, iters = 30, lr = 10.0)
    assert(w1.toSeq === w2.toSeq) // bit-identical retrain (quantized chain)
    val s = Classifier.scores(lrCorpus, w1).collect()
    s.foreach { r =>
      val p = r.getAs[Double]("prob")
      assert(p >= 0.0 && p <= 1.0)
      // the learned model reproduces the rule on this separable corpus
      assert(r.getAs[Int]("pred") === r.getAs[Int]("rule_label"))
    }
    // band-violation distance must push DOWN the quality probability
    assert(w1(1) < 0)
  }

  test("pmiBigrams: exclusive pair outranks frequent-word pairs; minCount gates hapaxes") {
    // "new"/"york" occur ONLY inside the phrase (p(a,b) = p(a) = p(b))
    // while "a b" co-occurs just as often but from words twice as
    // frequent — PMI must rank the exclusive pair first; the trailing
    // "rare pair" bigram appears once and is count-gated
    val d = docs((1L, "a b new york a b a b new york a b rare pair"))
    val r = TextOps.pmiBigrams(d, minCount = 2, k = 10)
      .collect().map(x => (x.getAs[String]("w1"), x.getAs[String]("w2")) ->
        (x.getAs[Double]("pmi"), x.getAs[Int]("rank"))).toMap
    assert(!r.contains(("rare", "pair")), "count-1 pair must be gated")
    assert(r(("new", "york"))._2 === 1, s"'new york' should rank first: $r")
    val pmiNY = r(("new", "york"))._1
    assert(r.filterKeys(_ != (("new", "york"))).values.forall(_._1 < pmiNY),
      s"'new york' should strictly lead: $r")
    // ranks are 1..n dense and total-ordered
    assert(r.values.map(_._2).toSeq.sorted === (1 to r.size).toSeq)
  }

  test("boilerplateScrub: cross-doc repeated span is cut, unique content survives") {
    // 5-token chunking — docs 1 and 2 share their first 5-token span
    // (the boilerplate); each tail is unique
    val d = docs(
      (1L, "all rights reserved by corp unique alpha content one two"),
      (2L, "all rights reserved by corp other beta payload three four"),
      (3L, "entirely original text with no shared spans at all here"))
    val r = TextOps.boilerplateScrub(d, chunkTokens = 5, minDf = 2)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Int]("n_spans"), x.getAs[Int]("n_dropped"), x.getAs[String]("clean_hash")))).toMap
    assert(r(1L)._1 === 2 && r(1L)._2 === 1)
    assert(r(2L)._1 === 2 && r(2L)._2 === 1)
    assert(r(3L)._2 === 0)
    // doc 1's cleaned text is exactly its unique tail
    val h = d.sparkSession.range(1)
      .select(md5(lit("unique alpha content one two"))).collect()(0).getString(0)
    assert(r(1L)._3 === h)
    // a doc that is ALL boilerplate hashes the empty string
    val all = docs((1L, "all rights reserved by corp"), (2L, "all rights reserved by corp"))
    val e = TextOps.boilerplateScrub(all, 5, 2).collect()
    val emptyHash = d.sparkSession.range(1).select(md5(lit(""))).collect()(0).getString(0)
    assert(e.forall(_.getAs[String]("clean_hash") === emptyHash))
  }

  test("hardNegatives: only cross-label neighbors rank; the nearest same-label vector is excluded") {
    // label 0: two near-identical vectors; label 1: a close-but-distinct one
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),  // same label, nearest overall
      (2L, Array(0.9f, 0.3f, 0.0f), 1),   // cross label, must rank 1st
      (3L, Array(0.0f, 1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val q = corpus.filter($"vec_id" === 0L)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"label".as("q_label"))
    val r = graft.ops.Similarity.hardNegatives(corpus, q, k = 5).collect()
    assert(r.forall(_.getAs[Int]("label") === 1), "all negatives must be cross-label")
    assert(r.map(_.getAs[Long]("vec_id")).toSet === Set(2L, 3L))
    assert(r.find(_.getAs[Int]("rank") === 1).get.getAs[Long]("vec_id") === 2L)
  }

  test("recursivePathSum: depth is data-dependent, path sums accumulate exactly, key 0 cannot loop") {
    import graft.queries.StarQueries
    // tree: 1 (root) <- 15 <- 153; 2 (root); key 0 would be its own
    // parent (0 div 10 = 0) — the >= 10 guard must keep it a root-less
    // orphan rather than an infinite loop
    val customer = Seq((0L, 1.00), (1L, 10.00), (2L, 20.00), (15L, 5.00), (153L, 2.50))
      .toDF("c_custkey", "c_acctbal")
    val r = StarQueries.recursivePathSum(spark, customer).collect()
      .map(x => x.getAs[Int]("depth") ->
        ((x.getAs[Long]("n_nodes"), x.getAs[Long]("total_path_cents")))).toMap
    // depth 0: keys 0,1,2 → cents 100 + 1000 + 2000
    assert(r(0) === ((3L, 3100L)))
    // depth 1: key 15 via 1 → 1000 + 500
    assert(r(1) === ((1L, 1500L)))
    // depth 2: key 153 via 15 → 1500 + 250
    assert(r(2) === ((1L, 1750L)))
    assert(r.size === 3)
  }

  test("prefixRerank: coarse stage gates candidates; full-width coarseK recovers brute force") {
    import graft.ops.Similarity
    // v1 looks great in the 2-dim prefix but bad in full; v2 the
    // reverse; v3 mediocre everywhere. With coarseK=1 only the prefix
    // winner survives to the rerank — the approximation is the
    // certified contract
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),        // prefix twin of q (coarse 1.0), full ~0.71
      (2L, Array(0.4f, 0.3f, 0.86f, 0.0f)),       // coarse 0.8 < v1, full ~0.90 > v1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f, 1.0f, 0.0f))).toDF("q_id", "q_emb")
    val top1 = Similarity.prefixRerank(corpus, q, prefixDims = 2, coarseK = 1, k = 1).collect()
    assert(top1.head.getAs[Long]("vec_id") === 1L,
      "coarseK=1 must keep only the prefix winner, even though v2 reranks higher on full dims")
    // with coarseK covering the corpus, the composition IS brute force
    val full = Similarity.prefixRerank(corpus, q, prefixDims = 2, coarseK = 3, k = 3)
      .select("q_id", "vec_id", "sim", "rank").collect().map(_.toSeq)
    val brute = Similarity.bruteForceTopK(corpus, q, 3)
      .select("q_id", "vec_id", "sim", "rank").collect().map(_.toSeq)
    assert(full.sortBy(_.toString) === brute.sortBy(_.toString))
  }

  test("Sq: codes hit the [0,255] rails, constant dims code 0, ADC finds the twin first") {
    import graft.ops.Sq
    val corpus = Seq(
      (1L, Array(0.0f, 7.0f, 1.0f)),
      (2L, Array(10.0f, 7.0f, 0.0f)),
      (3L, Array(5.0f, 7.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val st = Sq.stats(corpus)
    val codes = Sq.encode(corpus, st).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Int]]("codes")).toMap
    assert(codes(1L) === Seq(0, 0, 255))   // min rail, constant dim, max rail
    assert(codes(2L) === Seq(255, 0, 0))
    assert(codes(3L) === Seq(128, 0, 128)) // floor(0.5*255+0.5)
    val q = Seq((0L, Array(10.0f, 7.0f, 0.0f))).toDF("q_id", "q_emb")
    val top = Sq.adcTopK(Sq.encode(corpus, st), st, q, 3).collect()
    assert(top.find(_.getAs[Int]("rank") === 1).get.getAs[Long]("vec_id") === 2L,
      "the exact twin of the query must reconstruct to rank 1")
    // the candidate-restricted path with an all-pairs candidate set IS
    // the flat scan (the IVF composition only ever shrinks it)
    val allCands = corpus.select(lit(0L).as("q_id"), $"vec_id")
    val within = Sq.adcTopKWithin(allCands, Sq.encode(corpus, st), st, q, 3)
      .filter($"vec_id" =!= 0L)
      .select("q_id", "vec_id", "sim", "rank").collect().map(_.toSeq).sortBy(_.toString)
    assert(within === top.map(r =>
      Seq(r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("sim"), r.getAs[Int]("rank"))).sortBy(_.toString))
  }

  test("resampleFfill: gaps fill from the last observation, last-in-slot wins ties, grid spans first to last") {
    import graft.ops.EventWindows
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 1h slots: u1 observes in slots 0 (twice — later event wins) and 3
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 00:10:00"), 10.0),
      (2L, 1L, ts("2024-01-01 00:40:00"), 20.0), // same slot, later → carries
      (3L, 1L, ts("2024-01-01 03:30:00"), 30.0),
      (4L, 2L, ts("2024-01-01 05:00:00"), 99.0)  // single-event user: 1-slot grid
    ).toDF("event_id", "user_id", "ts", "value")
    val r = EventWindows.resampleFfill(ev, stepMinutes = 60).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("slot_sec")) ->
        ((x.getAs[Double]("value_ffill"), x.getAs[Boolean]("is_observed")))).toMap
    val h = 3600L
    val base = ts("2024-01-01 00:00:00").getTime / 1000
    assert(r((1L, base)) === ((20.0, true)))          // last-in-slot, not first
    assert(r((1L, base + h)) === ((20.0, false)))     // filled
    assert(r((1L, base + 2 * h)) === ((20.0, false))) // still filled
    assert(r((1L, base + 3 * h)) === ((30.0, true)))
    assert(r((2L, base + 5 * h)) === ((99.0, true)))
    assert(r.size === 5) // u1: slots 0..3; u2: slot 5 only
  }

  test("UnigramLm: frequent substrings become pieces, DP ties prefer longer pieces, paths cover words") {
    import graft.ops.UnigramLm
    // piece freqs over {aaa x2, bb x2, cc x1}: a=6, aa=4, b=4, bb=2,
    // c=2, cc=1 (total 19). 'bb' as one piece beats b|b (2.25 < 3.12),
    // 'cc' beats c|c; 'aaa' has a|aa and aa|a at EXACTLY equal cost —
    // the (len desc) tie-break picks the longer FINAL piece: a|aa
    val d = Seq((1L, "aaa bb aaa bb cc")).toDF("doc_id", "text")
    val r = UnigramLm.train(d, maxPieceLen = 2, topV = 32, maxWordLen = 8)
      .collect().map(x => x.getAs[String]("word") ->
        ((x.getAs[String]("path"), x.getAs[Int]("n_pieces")))).toMap
    assert(r("bb") === (("bb", 1)))
    assert(r("cc") === (("cc", 1)))
    assert(r("aaa") === (("a|aa", 2)))
    // segmentation is a COVER: pieces re-join to the word
    r.foreach { case (w, (path, _)) => assert(path.replace("|", "") === w) }
    // words beyond maxWordLen are excluded by contract
    val long = Seq((1L, "abcdefghij ok")).toDF("doc_id", "text")
    val r2 = UnigramLm.train(long, 2, 32, maxWordLen = 8).collect().map(_.getString(0))
    assert(r2.toSeq === Seq("ok"))
  }

  test("anomalies: a planted spike flags once; flat windows are variance-excluded") {
    import graft.ops.EventWindows
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    // 11 flat hourly observations then a 10x spike at hour 11; flat
    // trailing windows have zero variance (exact-integer excluded),
    // only the spike's own window scores — and flags exactly once
    val ev = (0 to 10).map(h => (h.toLong, 7L, ts(h), 10.0)) :+ (11L, 7L, ts(11), 100.0)
    val r = EventWindows.anomalies(ev.toDF("event_id", "user_id", "ts", "value"),
      stepMinutes = 60).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("cents") === 10000L)
    assert(r.head.getAs[Double]("z") > 2.0)
  }

  test("LabelProp: cliques converge to their min label; disjoint cliques stay apart") {
    import graft.ops.LabelProp
    // K4 {1..4} and a disjoint K3 {10..12}; directed input, the op
    // symmetrizes. Round 1 sends everyone to the min neighbor, round 2
    // reaches consensus on the clique minimum, rounds 3..5 are no-ops
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val r = LabelProp.communities(edges, rounds = 5).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("community")).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(r(_) === 1L), s"K4 must converge to 1: $r")
    assert(Seq(10L, 11L, 12L).forall(r(_) === 10L), s"K3 must converge to 10: $r")
    // deterministic rerun
    val r2 = LabelProp.communities(edges, rounds = 5).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("community")).toMap
    assert(r === r2)
  }

  test("Anonymize.kAnonymize: small quasi-groups are NULLed, large ones survive intact") {
    import graft.ops.Anonymize
    val df = Seq((1L, "a", 9), (2L, "a", 9), (3L, "a", 9), (4L, "b", 7), (5L, "a", 9))
      .toDF("id", "city", "x")
    val r = Anonymize.kAnonymize(df, Seq("city", "x"), k = 2).collect()
      .map(x => x.getAs[Long]("id") ->
        ((Option(x.getAs[String]("city")), x.getAs[Boolean]("suppressed")))).toMap
    assert(r(4L) === ((None, true)), "the lone (b,7) row must be suppressed")
    Seq(1L, 2L, 3L, 5L).foreach(i => assert(r(i) === ((Some("a"), false))))
  }

  test("Forget.cascade: FK closure is purged, survivors untouched, audit adds up") {
    import graft.ops.Forget
    val customer = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("c_custkey", "c_name")
    val orders = Seq((10L, 1L), (11L, 1L), (12L, 2L), (13L, 3L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 1), (10L, 2), (11L, 1), (12L, 1), (13L, 1))
      .toDF("l_orderkey", "l_linenumber")
    val keys = Seq(Tuple1(1L)).toDF("c_custkey")
    val c = Forget.cascade(customer, orders, lineitem, keys)
    assert(c.customer.select("c_custkey").as[Long].collect().sorted === Array(2L, 3L))
    assert(c.orders.select("o_orderkey").as[Long].collect().sorted === Array(12L, 13L))
    // lineitems of orders 10 and 11 (customer 1's) are gone
    assert(c.lineitem.select("l_orderkey").as[Long].collect().sorted === Array(12L, 13L))
    val s = c.summary.collect().map(r => r.getAs[String]("tbl") ->
      ((r.getAs[Long]("n_before"), r.getAs[Long]("n_purged"), r.getAs[Long]("n_after")))).toMap
    assert(s("customer") === ((3L, 1L, 2L)))
    assert(s("orders") === ((4L, 2L, 2L)))
    assert(s("lineitem") === ((5L, 3L, 2L)))
    // the deletion audit is self-consistent by construction
    assert(s.values.forall { case (b, p, a) => b - p === a })
  }

  test("compression signals are deterministic, bounded, and discriminating") {
    import graft.ops.Compress
    val rnd = new scala.util.Random(42)
    val noise = Iterator.continually(rnd.nextPrintableChar()).take(2000).mkString
    val prose = ("The quick brown fox jumps over the lazy dog while seventeen " +
      "sailors argue about the provenance of an antique compass. ") * 16
    val docs = Seq(
      (1L, "the cat sat on the mat. " * 80), // repetitive template
      (2L, prose),                           // natural-ish prose
      (3L, noise),                           // ~incompressible
      (4L, "")
    ).toDF("doc_id", "text")
    def run() = Compress.compressionSignals(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    val a = run()
    // (a) deterministic across plans/runs
    assert(a === run())
    // (b) bounds: positive output for non-empty input, empty → 1.0
    assert(a(4) === ((0, 0, 1.0)))
    Seq(1L, 2L, 3L).foreach { id =>
      val (nb, nd, r) = a(id)
      assert(nb > 0 && nd > 0 && r > 0.0 && r < 1.5, s"doc $id out of bounds: $a")
      assert(math.abs(r - nd.toDouble / nb) < 1e-12)
    }
    // (c) the discriminating property the signal exists for
    assert(a(1)._3 < a(2)._3 && a(2)._3 < a(3)._3,
      s"expected repetitive < prose < noise, got $a")
    // the filter keeps exactly the mid-band docs
    val kept = Compress.compressionFilter(docs, a(2)._3 - 1e-9, a(2)._3 + 1e-9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L))
  }

  test("Q19's disjunctive join predicate factors to a hash join, not a nested loop") {
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val q = graft.queries.StarQueries.q19DisjunctiveRevenue(lineitem, part)
    // the claim in the scaladoc: BooleanSimplification factors the
    // common p_partkey = l_partkey equality out of the OR-of-ANDs, so
    // ExtractEquiJoinKeys plans a hash join with the disjunction as a
    // residual filter — a literal reading would be an O(n x m) nested
    // loop, which at 100 TB is not a plan
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected the common equality factored out of the OR, got:\n$plan")
    assert(plan.contains("HashJoin"), s"expected a hash join, got:\n$plan")
    // and the residual disjunction still filters: equivalent to the
    // union-of-arms formulation
    import org.apache.spark.sql.functions.{col, lit, round => rnd, sum => fsum}
    def arm(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
      lineitem.join(part,
        col("p_partkey") === col("l_partkey") && col("p_brand") === brand &&
          col("p_size").between(1, sizeHi) && col("l_quantity").between(qLo, qHi))
    val expected = arm("Brand#1", 15, 1, 11)
      .unionAll(arm("Brand#2", 25, 10, 20)).unionAll(arm("Brand#3", 35, 20, 30))
      .agg(rnd(fsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .collect()(0).getDouble(0)
    assert(q.collect()(0).getDouble(0) === expected)
  }

  test("Curation funnel: stage subsets, threshold split, exact/near dedup, brute-force decontam") {
    import graft.ops.{Curation, Sampling}
    // a corpus that exercises every stage: unique good docs (an
    // id-specific token every 3rd position, so every 3-gram shingle is
    // doc-specific and unrelated docs never share a minhash bucket),
    // an exact-duplicate family, near-duplicate pairs (only the final
    // token differs), docs carrying a distinctive 5-token phrase, and
    // junk docs. 24 tokens, mean token length and stopword ratio all
    // inside the quality bands → good docs score 3, junk scores 0.
    def good(id: Long, k: Long, last: String) =
      (id, s"the uu$k fox and dd$k dog the ww$k walk of qq$k field " +
        s"the tt$k stars in bb$k light to pp$k night is zz$k $last")
    val rows =
      (1L to 30L).map(i => good(i, i, "again")) ++
        (31L to 36L).map(i => good(i, 0L, "again")) ++ // exact dups of each other
        (37L to 42L).map(i => good(i, i / 2 * 2, s"vv$i")) ++ // (38,39),(40,41) near pairs
        (43L to 52L).map(i => good(i, i, s"qq ww ee rr tt p$i")) ++
        (53L to 72L).map(i => (i, "zz yy xx"))
    val corpus = docs(rows: _*)
    val st = Curation.stages(corpus)
    val counts = Curation.stageCounts(st).orderBy($"stage_idx").collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    val (trainIds, qIds, eIds, nIds, fIds) =
      (ids(st.train), ids(st.quality), ids(st.exact), ids(st.near), ids(st.fin))

    // the funnel is a subset chain, and the counts frame reports it
    assert(fIds.subsetOf(nIds) && nIds.subsetOf(eIds) &&
      eIds.subsetOf(qIds) && qIds.subsetOf(trainIds))
    assert(counts("corpus") === 72L && counts("train_split") === trainIds.size.toLong &&
      counts("quality") === qIds.size.toLong && counts("exact_dedup") === eIds.size.toLong &&
      counts("near_dedup") === nIds.size.toLong && counts("decontaminated") === fIds.size.toLong)
    // split partitions the corpus; both sides are populated
    val benchIds = ids(st.bench)
    assert((trainIds ++ benchIds) === (1L to 72L).toSet && (trainIds & benchIds).isEmpty)

    // quality is a pure threshold: every dropped doc scores strictly
    // below every survivor
    val scores = TextOps.qualityScores(st.train).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("quality_score")).toMap
    val dropped = trainIds -- qIds
    assert(dropped.nonEmpty && qIds.nonEmpty)
    assert(dropped.map(scores).max < qIds.map(scores).min)

    // exact dedup: survivor digests are unique, and every doc dropped
    // here has a smaller-id survivor with identical text
    val textOf = rows.toMap
    val eTexts = eIds.toSeq.map(textOf)
    assert(eTexts.distinct.size === eTexts.size)
    for (d <- qIds -- eIds)
      assert(eIds.exists(k => k < d && textOf(k) == textOf(d)), s"doc $d dropped without keeper")
    assert((qIds -- eIds).nonEmpty, "exact-dup family never split into train — rebuild fixture")

    // near dedup dropped at least one of the planted near-pairs, and
    // every doc dropped here maps to a smaller keeper in its component
    val comps = st.components.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (d <- eIds -- nIds) assert(comps(d) < d && nIds.contains(comps(d)))
    assert((eIds -- nIds).nonEmpty, "no near-pair landed both-train — rebuild fixture")

    // decontamination equals the brute-force 5-gram intersection with
    // the benchmark side, computed independently in the driver
    def grams(t: String): Set[String] =
      t.split(" ").toSeq.sliding(5).filter(_.size == 5).map(_.mkString(" ")).toSet
    val benchGrams = benchIds.flatMap(i => grams(textOf(i)))
    val expectContam = nIds.filter(i => (grams(textOf(i)) & benchGrams).nonEmpty)
    assert(fIds === (nIds -- expectContam))
    assert(expectContam.nonEmpty, "no phrase doc straddled the split — rebuild fixture")

    // the audit's disposition counts ARE the funnel deltas
    val audit = Curation.audit(st).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(audit.size === 72)
    def n(s: String) = audit.count(_._2 == s).toLong
    assert(n("kept") === fIds.size.toLong)
    assert(n("benchmark") === benchIds.size.toLong)
    assert(n("quality") === (trainIds.size - qIds.size).toLong)
    assert(n("exact_dup") === (qIds.size - eIds.size).toLong)
    assert(n("near_dup") === (eIds.size - nIds.size).toLong)
    assert(n("contaminated") === (nIds.size - fIds.size).toLong)
  }

  test("bucketed kNN edges: high recall vs the exact frame at a fraction of the pairs") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val exact = graft.ops.PageRank.knnEdgesWeighted(emb, 5)
      .select(col("src"), col("dst"))
    val nExact = exact.count()
    val nVec = emb.count()
    def recallAt(np: Int): Double = {
      val b = graft.ops.PageRank.knnEdgesBucketed(emb, 5,
        nc = 8, iters = 2, nprobe = np).select(col("src"), col("dst"))
      assert(b.count() == nVec * 5, "every source still gets k edges")
      exact.intersect(b).count().toDouble / nExact
    }
    // nprobe is THE recall/cost knob: scanning nprobe/nc of the corpus
    // per query must buy monotone recall, and on this (deliberately
    // diffuse) synthetic corpus the recall should at least track the
    // scan fraction with a locality premium. Bounds are loose on
    // purpose — they pin the knob's shape, not a constant hostage to
    // testdata regeneration.
    val r2 = recallAt(2)
    val r4 = recallAt(4)
    assert(r4 >= r2, s"recall must be monotone in nprobe ($r2 -> $r4)")
    assert(r2 >= 0.3, s"nprobe=2 recall $r2 below 0.3")
    assert(r4 >= 0.55, s"nprobe=4 recall $r4 below 0.55")
  }

  test("bucketed kNN edges on a CLUSTERED corpus: recall >= 0.8 at the nprobe=2 default") {
    import spark.implicits._
    // the diffuse-corpus arm above is the PESSIMAL input (near-uniform
    // vectors make IVF cells arbitrary); real embedding corpora
    // cluster, and the certified number should live on that case too.
    // 24 well-separated centers x 40 members, 24-dim, deterministic
    // integer base + 1% jitter (the PqSpec clustered-data pattern):
    // a member's true 5-NN are cluster mates, which IVF routing keeps
    // together — recall at nprobe=2 must clear 0.8, well above the
    // 0.48 the same knob measures on the diffuse corpus.
    val vecs = for (c <- 0 until 24; j <- 0 until 40) yield {
      val v = Array.tabulate(24) { i =>
        ((c * 37 + i * 19) % 17 - 8).toFloat + ((j * 11 + i * 5 + c) % 7 - 3) * 0.01f
      }
      (c * 40L + j, v)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val exact = graft.ops.PageRank.knnEdgesWeighted(emb, 5)
      .select(col("src"), col("dst"))
    val nExact = exact.count()
    val b = graft.ops.PageRank.knnEdgesBucketed(emb, 5,
      nc = 24, iters = 2, nprobe = 2).select(col("src"), col("dst"))
    assert(b.count() == vecs.size.toLong * 5)
    val recall = exact.intersect(b).count().toDouble / nExact
    assert(recall >= 0.8, s"clustered-corpus recall $recall below 0.8")
  }
}
