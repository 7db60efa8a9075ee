package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.sources.Bucketing

/** The 100 TB claim behind `Bucketing`: a join of two tables bucketed
  * on the join key plans WITHOUT a shuffle exchange — the layout
  * already satisfies the join's distribution requirement. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed-bucketed equi-join is exchange-free and result-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-spec")
    val left  = (1 to 200).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val right = (1 to 200).map(i => (i.toLong % 50, s"r$i")).toDF("k", "rv")
    // force a sort-merge join and a concrete (non-adaptive) plan so the
    // exchange assertion reads the real physical operators
    try {
      Session.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        val bl = Bucketing.writeBucketed(left, s"$dir/l", "spec_bkt_l", "k", 4)
        val br = Bucketing.writeBucketed(right, s"$dir/r", "spec_bkt_r", "k", 4)
        val joined = bl.join(br, Seq("k"))
        val shuffles = joined.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"expected an exchange-free co-located join, got:\n${joined.queryExecution.executedPlan}")
        // the layout must be invisible in the result
        val plain = left.join(right, Seq("k"))
        assert(joined.count() === plain.count())
        assert(joined.agg(sum(length($"rv"))).head.getLong(0) ===
          plain.agg(sum(length($"rv"))).head.getLong(0))
      }
    } finally {
      Bucketing.drop(spark, "spec_bkt_l")
      Bucketing.drop(spark, "spec_bkt_r")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("partitioned layout prunes non-matching partitions at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part-spec")
    try {
      val df = (1 to 100).map(i => (i.toLong, s"p${i % 5}", i)).toDF("id", "part", "v")
      Bucketing.writePartitioned(df, s"$dir/t", "part")
      val filtered = spark.read.parquet(s"$dir/t").filter($"part" === "p3")
      val scans = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty)
      // the predicate must land in PartitionFilters (directory pruning),
      // not as a post-scan data filter over all partitions
      assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "part")),
        s"expected a partition filter on 'part', got: ${scans.head.partitionFilters}")
      assert(filtered.count() === 20)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("point filter on the bucket key prunes the scan to a single bucket") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-prune")
    try {
      Session.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
        val df = (1 to 400).map(i => (i.toLong % 40, i)).toDF("k", "v")
        val b = Bucketing.writeBucketed(df, s"$dir/t", "spec_bkt_prune", "k", 8)
        val point = b.filter($"k" === 7L)
        val scans = point.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        assert(scans.nonEmpty)
        // the equality predicate restricts the scan to the one bucket
        // that can hold k=7 — 1/numBuckets of the files at any scale
        val bucketSet = scans.head.optionalBucketSet
        assert(bucketSet.isDefined, "expected bucket pruning to engage")
        assert(bucketSet.get.cardinality() === 1,
          s"expected exactly one surviving bucket, got ${bucketSet.get.cardinality()}")
        assert(point.count() === 10)
      }
    } finally {
      Bucketing.drop(spark, "spec_bkt_prune")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("range-clustered writer emits files with pairwise-disjoint key ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sorted-spec")
    try {
      val df = (1 to 1000).map(i => ((i * 7919) % 1000L, i)).toDF("k", "v") // scrambled key order
      Bucketing.writeSorted(df, s"$dir/t", "k", numFiles = 4, maxRecordsPerFile = 100)
      val files = new java.io.File(s"$dir/t").listFiles()
        .filter(f => f.getName.startsWith("part-")).map(_.getAbsolutePath).toSeq
      // maxRecordsPerFile splits the 4 range partitions into ~10 files
      assert(files.size >= 10, s"expected maxRecordsPerFile to split files, got ${files.size}")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f).agg(min($"k"), max($"k")).head
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      // contiguous sorted slices: every file's range ends before the next begins,
      // so parquet min/max footer stats can skip whole files on any k-range predicate
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping file ranges: $ranges")
        case _ =>
      }
      assert(spark.read.parquet(s"$dir/t").count() === 1000)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("Z-order clustering bounds every file's extent in BOTH dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder-spec")
    try {
      // a 64x64 grid, scrambled: any row order the writer imposes is its own
      val grid = (0 until 4096).map { i =>
        val j = (i * 2654435761L) % 4096
        (j % 64, j / 64, i)
      }.toDF("x", "y", "v")
      def fileSpans(path: String): Seq[(Long, Long)] =
        new java.io.File(path).listFiles()
          .filter(_.getName.startsWith("part-")).toSeq.map { f =>
            val r = spark.read.parquet(f.getAbsolutePath)
              .agg(max($"x") - min($"x"), max($"y") - min($"y")).head
            (r.getLong(0), r.getLong(1))
          }
      Bucketing.writeZOrdered(grid, s"$dir/z", "x", "y", numFiles = 16, bits = 6)
      Bucketing.writeSorted(grid, s"$dir/s", "x", numFiles = 16)
      val zSpans = fileSpans(s"$dir/z")
      val sSpans = fileSpans(s"$dir/s")
      // single-column sort: x is tightly clustered but y spans the full
      // 0..63 domain in every file — no skipping on y at all
      assert(sSpans.forall(_._2 === 63L), s"expected full y span per x-sorted file: $sSpans")
      // Z-order: BOTH dims bounded in (nearly) every file. An aligned
      // 256-long Z-interval is a 16x16 tile; sampled range bounds shift
      // the cuts, and a file straddling one of the 3 top-level curve
      // boundaries (z=1024/2048/3072) can span a quadrant — so assert
      // >=12 of 16 files fit in a half-domain box on BOTH dims, the
      // property a single-column sort cannot deliver at all
      assert(zSpans.count { case (xs, ys) => xs <= 31 && ys <= 31 } >= 12,
        s"expected mostly-tight z tiles: $zSpans")
      // layout is result-invisible
      assert(spark.read.parquet(s"$dir/z").count() === 4096)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("bucketed groupBy on the bucket key aggregates without an exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt-agg")
    try {
      Session.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
        val df = (1 to 300).map(i => (i.toLong % 30, i)).toDF("k", "v")
        val b = Bucketing.writeBucketed(df, s"$dir/t", "spec_bkt_agg", "k", 4)
        val agg = b.groupBy($"k").agg(sum($"v").as("s"))
        val shuffles = agg.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"expected an exchange-free bucketed aggregate, got:\n${agg.queryExecution.executedPlan}")
        assert(agg.count() === 30)
      }
    } finally {
      Bucketing.drop(spark, "spec_bkt_agg")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("compactFiles bounds the file count and preserves content exactly") {
    val base = java.nio.file.Files.createTempDirectory("graft-compactor").toString
    val df = spark.range(10000L).select($"id", ($"id" % 97).as("g"))
    df.repartition(25).write.parquet(s"$base/frag")
    def parquets(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(parquets(s"$base/frag").size === 25)
    val totalBytes = parquets(s"$base/frag").map(_.length()).sum
    val target = totalBytes / 4 + 1 // force ~4 output files
    val n = Bucketing.compactFiles(spark, s"$base/frag", s"$base/out", target)
    assert(n === 4 && parquets(s"$base/out").size <= 4)
    val back = spark.read.parquet(s"$base/out")
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    assert(back.count() === 10000L)
    // splitting UP: tiny fragments that read as fewer partitions than
    // the promised file count must repartition, not silently under-split
    val outBytes = parquets(s"$base/out").map(_.length()).sum
    val n2 = Bucketing.compactFiles(spark, s"$base/out", s"$base/out2", outBytes / 10 + 1)
    assert(n2 === 10 && parquets(s"$base/out2").size === 10)
    assert(spark.read.parquet(s"$base/out2").count() === 10000L)
    // in-place compaction would delete the source before the lazy read
    intercept[IllegalArgumentException] {
      Bucketing.compactFiles(spark, s"$base/out", s"$base/out", target)
    }
  }

  test("file-skipping index prunes to overlapping files only, result-invisibly") {
    import graft.sources.FileSkip
    val base = java.nio.file.Files.createTempDirectory("graft-fileskip-spec").toString
    val df = spark.range(10000L).select($"id", ($"id" % 13).as("g"))
    Bucketing.writeSorted(df, s"$base/t", "id", numFiles = 10)
    val nData = spark.read.parquet(s"$base/t").count()
    FileSkip.buildStats(spark, s"$base/t", Seq("id"))
    // the _stats dir must be invisible to plain readers of the table
    assert(spark.read.parquet(s"$base/t").count() === nData)
    val all = new java.io.File(s"$base/t").listFiles()
      .count(_.getName.endsWith(".parquet"))
    // a narrow range over the range-clustered layout prunes hard:
    // 1000 of 10000 ids live in ~1-2 of the 10 disjoint-range files
    val cand = FileSkip.candidateFiles(spark, s"$base/t", "id", 2000L, 2999L)
    assert(cand.nonEmpty && cand.length < all,
      s"expected a strict subset, got ${cand.length} of $all files")
    // pruning must be result-invisible vs the full-scan filter
    val pruned = FileSkip.scanPruned(spark, s"$base/t", "id", 2000L, 2999L)
    val full = spark.read.parquet(s"$base/t").filter($"id".between(2000L, 2999L))
    assert(pruned.count() === 1000L)
    assert(pruned.except(full).isEmpty && full.except(pruned).isEmpty)
    // a range outside every file's extent reads nothing, schema intact
    val none = FileSkip.scanPruned(spark, s"$base/t", "id", 50000L, 60000L)
    assert(none.count() === 0L)
    assert(none.schema === pruned.schema)
  }

  test("bloom file index prunes equality lookups on an unclustered column, no false negatives") {
    import graft.sources.FileSkip
    val base = java.nio.file.Files.createTempDirectory("graft-bloomskip-spec").toString
    // layout clustered by id; the probe column g is uncorrelated with
    // it, so min/max stats on g are useless (every file spans 0..12)
    val df = spark.range(10000L).select($"id", ($"id" % 997).as("g"))
    Bucketing.writeSorted(df, s"$base/t", "id", numFiles = 20)
    val nData = spark.read.parquet(s"$base/t").count()
    FileSkip.buildBloom(spark, s"$base/t", "g")
    // the _bloom_g dir must be invisible to plain readers
    assert(spark.read.parquet(s"$base/t").count() === nData)
    val all = new java.io.File(s"$base/t").listFiles()
      .count(_.getName.endsWith(".parquet"))
    // key 123 lives in ~11 rows → at most 11 (expected fewer than all)
    // of the 20 files can contain it; bloom must admit a strict subset
    val cand = FileSkip.candidateFilesEq(spark, s"$base/t", "g", 123L)
    assert(cand.nonEmpty && cand.length < all,
      s"expected a strict subset, got ${cand.length} of $all files")
    // no false negatives across many keys: pruned ≡ full-scan filter
    for (key <- Seq(0L, 123L, 996L)) {
      val pruned = FileSkip.scanPrunedEq(spark, s"$base/t", "g", key)
      val full = spark.read.parquet(s"$base/t").filter($"g" === key)
      assert(pruned.except(full).isEmpty && full.except(pruned).isEmpty)
      assert(pruned.count() === full.count())
    }
    // a key absent from the table: the exact filter guarantees 0 rows
    // even when bloom false-positives admit files
    val none = FileSkip.scanPrunedEq(spark, s"$base/t", "g", 5000L)
    assert(none.count() === 0L)
  }
}
