package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.certs.EmbCerts.{cosSql, embQueries, ivfPqTopkSql, ivfPqTopkSqlFiltered,
  ivfSql, pqSql}
import graft.certs.Fixtures.{annIndexFor, copyDirInto, withTempDir}
import graft.certs.TextCerts.{bm25TopkSql, bm25TopkSqlOver, mixShares, mixSharesValuesSql}
import graft.ops.Sampling
import graft.queries.StarQueries
import graft.sources.Tables
import graft.sources.segment.GraftCatalog.withCatalog

/** Storage certificates: layouts, table maintenance, CDC, privacy
  * transforms and the graft-segment table format. */
object StoreCerts {

  lazy val certs: Seq[Cert] = Seq(
    // the inverted index persisted once (postings/doclens/meta — no raw
    // text, the AnnIndex rule) and served from the stored frames: must
    // answer bit-identically to the one-shot path over one oracle
    Cert("store_bm25_roundtrip", (s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      withTempDir("graft-bm25idx") { base =>
        graft.ops.Bm25.writeIndex(Tables.documents(s, d), base)
        graft.ops.Bm25.topKFromIndex(s, base, queries, 10)
          .orderBy(col("q_id"), col("rank"))
      }
    },
      // the stored-index path must answer bit-identically — one oracle
      // for both, the store_ann_roundtrip pattern
      bm25TopkSql),
    // document erasure on the text index: posting+doclen rows of
    // doc_id%7 deleted AND the collection stats restated (n/avgdl are
    // in every surviving score — no frozen-model escape hatch here);
    // the oracle re-runs the whole chain over the filtered corpus
    Cert("store_bm25_forget", (s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      withTempDir("graft-bm25fgt") { base =>
        graft.ops.Bm25.writeIndex(Tables.documents(s, d), base)
        graft.ops.Bm25.removeDocs(s, base,
          Tables.documents(s, d).filter(col("doc_id") % 7 === 0).select(col("doc_id")))
        graft.ops.Bm25.topKFromIndex(s, base, queries, 10)
          .orderBy(col("q_id"), col("rank"))
      }
    },
      bm25TopkSqlOver("(SELECT * FROM documents WHERE doc_id % 7 <> 0)")),
    // bucketed-layout co-located join: both sides written hash-clustered
    // and sorted on custkey (the shuffle is paid once, at write), then
    // joined exchange-free; certified against the plain-join oracle —
    // the layout must be invisible in the result
    Cert("store_bucketed_join", (s, d) => {
      val out = withTempDir("graft-bucketed") { base =>
        val o = graft.sources.Bucketing.writeBucketed(
          Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice")),
          s"$base/orders", "graft_bkt_orders", "o_custkey", 8)
        val c = graft.sources.Bucketing.writeBucketed(
          Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
          s"$base/customer", "graft_bkt_customer", "c_custkey", 8)
        o.join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("total_price"))
      }
      graft.sources.Bucketing.drop(s, "graft_bkt_orders")
      graft.sources.Bucketing.drop(s, "graft_bkt_customer")
      out.orderBy(col("c_mktsegment"))
    },
      // the bucketed layout must reproduce the plain join's aggregate
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, " +
        "round(sum(o_totalprice), 2) AS total_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    // hive-partitioned layout round-trip: write partitioned by lang,
    // read back one partition (pruned at planning time) and aggregate;
    // certified against the plain filtered aggregate
    Cert("store_partitioned_scan", (s, d) =>
      withTempDir("graft-partitioned") { base =>
        graft.sources.Bucketing.writePartitioned(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          s"$base/docs", "lang")
        s.read.parquet(s"$base/docs").filter(col("lang") === "de")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      }.orderBy(col("source")),
      // the partitioned layout must reproduce the plain filtered aggregate
      ("SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents WHERE lang = 'de' GROUP BY source ORDER BY source")),
    // range-clustered compaction round-trip: the layout (disjoint
    // per-file key ranges + parquet min/max stats) must be invisible
    // to a range query's result
    Cert("store_sorted_scan", (s, d) =>
      withTempDir("graft-sorted") { base =>
        graft.sources.Bucketing.writeSorted(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          s"$base/docs", "n_chars", numFiles = 8)
        s.read.parquet(s"$base/docs")
          .filter(col("n_chars").between(200, 400))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      }.orderBy(col("lang")),
      // the clustered layout must reproduce the plain range-filtered aggregate
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents WHERE n_chars BETWEEN 200 AND 400 " +
        "GROUP BY lang ORDER BY lang")),
    // Z-order layout round trip: cluster on (doc_id, n_chars), filter on
    // BOTH dims after readback — the layout must be result-invisible
    Cert("store_zorder_scan", (s, d) =>
      withTempDir("graft-zorder") { base =>
        graft.sources.Bucketing.writeZOrdered(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          s"$base/docs", "doc_id", "n_chars", numFiles = 8)
        s.read.parquet(s"$base/docs")
          .filter(col("doc_id") % 2 === 0 && col("n_chars").between(100, 500))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
      }.orderBy(col("lang")),
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents WHERE doc_id % 2 = 0 AND n_chars BETWEEN 100 AND 500 " +
        "GROUP BY lang ORDER BY lang")),
    // SCD2 history via the INCREMENTAL merge path: build on the early
    // change slice, merge the late slice (touched keys replay, untouched
    // pass through) — must equal the oracle's FULL rebuild over all
    // changes, certifying merge(build(early), late) ≡ build(early ∪ late)
    Cert("store_scd2_merge", (s, d) => {
      val ch = Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderdate").cast("date").as("valid_from"),
        col("o_orderkey"), col("o_orderstatus").as("status"))
      val early = ch.filter(col("valid_from") < lit("1997-01-01"))
      val late = ch.filter(col("valid_from") >= lit("1997-01-01"))
      graft.ops.Scd2.merge(
        graft.ops.Scd2.build(early, "o_custkey", "valid_from", "o_orderkey"),
        late, "o_custkey", "valid_from", "o_orderkey")
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    },
      // FULL rebuild over all changes — the incremental Spark path must
      // reproduce it exactly
      ("SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from, o_orderkey, " +
        "o_orderstatus AS status, " +
        "lead(CAST(o_orderdate AS DATE)) OVER w AS valid_to, " +
        "lead(o_orderdate) OVER w IS NULL AS is_current " +
        "FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) " +
        "ORDER BY o_custkey, valid_from, o_orderkey")),
    // dynamic partition overwrite: rewriting one partition's rows must
    // replace EXACTLY the partitions the batch touches (static mode
    // would clobber the whole table; append would duplicate) — the
    // partition-level upsert every hive-layout pipeline relies on
    Cert("store_dynamic_overwrite", (s, d) => withTempDir("graft-dynpart") { base =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"), col("o_orderstatus"))
      o.write.partitionBy("o_orderstatus").parquet(s"$base/t")
      o.filter(col("o_orderstatus") === "F")
        .withColumn("cents", col("cents") + 7)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(s"$base/t")
      s.read.parquet(s"$base/t")
        .select(col("o_orderkey"), col("o_custkey"), col("cents"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    },
      // untouched partitions keep their original rows; the F partition
      // carries the patch — any clobber or duplicate breaks the hash
      ("SELECT o_orderkey, o_custkey, CAST(round(o_totalprice*100.0, 0) AS BIGINT) + " +
        "CASE WHEN o_orderstatus = 'F' THEN 7 ELSE 0 END AS cents, o_orderstatus " +
        "FROM orders ORDER BY o_orderkey")),
    // time travel over the SCD2 history: the snapshot at an as-of date
    // is a pure interval-cover filter (partition-prunable at scale),
    // not a window — zero-length same-day intervals excluded
    Cert("store_scd2_asof", (s, d) => {
      val ch = Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderdate").cast("date").as("valid_from"),
        col("o_orderkey"), col("o_orderstatus").as("status"))
      graft.ops.Scd2.pointInTime(
        graft.ops.Scd2.build(ch, "o_custkey", "valid_from", "o_orderkey"),
        "valid_from", lit("1997-06-15").cast("date"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    },
      // the full SCD2 chain filtered to intervals covering the as-of date
      ("SELECT * FROM (SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from, o_orderkey, " +
        "o_orderstatus AS status, " +
        "lead(CAST(o_orderdate AS DATE)) OVER w AS valid_to, " +
        "lead(o_orderdate) OVER w IS NULL AS is_current " +
        "FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)) " +
        "WHERE valid_from <= DATE '1997-06-15' " +
        "AND (valid_to IS NULL OR valid_to > DATE '1997-06-15') " +
        "ORDER BY o_custkey, valid_from, o_orderkey")),
    // incrementally maintained aggregate view: base build + two delta
    // merges (cost ∝ delta) must equal the oracle's one-shot GROUP BY
    // over all orders. The measure is summed as integer CENTS — an
    // incremental view adds in a different order than a rebuild, so the
    // summed domain must be exact (float addition isn't associative)
    // incremental JOIN-view refresh: the stored pre-batch view plus
    // the three-arm delta (dA⋈B ∪ A⋈dB ∪ dA⋈dB) must equal the full
    // rebuild over the unioned sides — refresh cost ∝ delta, the rule
    // that keeps a denormalized view refreshable at 100 TB
    Cert("store_incr_join", (s, d) => {
      val a = Tables.orders(s, d).select(col("o_custkey").as("custkey"),
        col("o_orderkey"), round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      val b = Tables.customer(s, d).select(col("c_custkey").as("custkey"),
        col("c_mktsegment"))
      val (aOld, aDelta) = (a.filter(col("o_orderkey") % 4 =!= 0),
        a.filter(col("o_orderkey") % 4 === 0))
      val (bOld, bDelta) = (b.filter(col("custkey") % 3 =!= 0),
        b.filter(col("custkey") % 3 === 0))
      aOld.join(bOld, Seq("custkey"))
        .unionByName(graft.ops.IncrView.joinDelta(aOld, bOld, aDelta, bDelta, Seq("custkey")))
        .orderBy(col("o_orderkey"))
    },
      incrJoinSql),
    Cert("store_incr_agg", (s, d) => {
      val orders = Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      val base = orders.filter(col("o_orderkey") % 4 =!= 0)
      val d1 = orders.filter(col("o_orderkey") % 8 === 0)
      val d2 = orders.filter(col("o_orderkey") % 4 === 0 && col("o_orderkey") % 8 =!= 0)
      val merged = graft.ops.IncrView.merge(
        graft.ops.IncrView.merge(
          graft.ops.IncrView.build(base, Seq("o_custkey"), col("cents")),
          d1, Seq("o_custkey"), col("cents")),
        d2, Seq("o_custkey"), col("cents"))
      merged.select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_v").as("sum_cents"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"))
        .orderBy(col("o_custkey"))
    },
      // one-shot full aggregate — the incremental base+delta+delta merge
      // chain must reproduce it exactly (cents keep the sum associative)
      incrAggSql),
    // small-file compaction: a 40-fragment write folded to few files
    // with coalesce (no shuffle); content must survive exactly
    Cert("store_compacted_scan", (s, d) => withTempDir("graft-compact") { base =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      o.repartition(40).write.parquet(s"$base/frag")
      graft.sources.Bucketing.compactFiles(s, s"$base/frag", s"$base/out", 1L << 20)
      s.read.parquet(s"$base/out").orderBy(col("o_orderkey"))
    },
      // compaction is result-invisible
      ("SELECT o_orderkey, o_custkey, o_orderpriority FROM orders ORDER BY o_orderkey")),
    // file-level min/max data skipping: range-clustered write + one
    // stats-build scan → a planning-time index probe reads ONLY the
    // overlapping files; pruning must be result-invisible vs the
    // oracle's full-table filter (the spec asserts the file list
    // actually shrank)
    Cert("store_fileskip_scan", (s, d) => withTempDir("graft-fileskip") { base =>
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"))
      graft.sources.Bucketing.writeSorted(o, s"$base/orders", "o_orderkey", numFiles = 16)
      graft.sources.FileSkip.buildStats(s, s"$base/orders", Seq("o_orderkey"))
      graft.sources.FileSkip.scanPruned(s, s"$base/orders", "o_orderkey", 1000L, 4000L)
        .orderBy(col("o_orderkey"))
    },
      // the stats-index pruned scan must equal the full-table filter
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders " +
        "WHERE o_orderkey BETWEEN 1000 AND 4000 ORDER BY o_orderkey")),
    // equality-predicate file skipping via the per-file bloom index:
    // the layout is clustered by o_orderkey, so min/max stats on
    // o_custkey span the domain per file — the bloom side table still
    // prunes the point lookup to the files actually holding the key,
    // and the exact filter after makes pruning result-invisible
    Cert("store_bloomskip_scan", (s, d) => withTempDir("graft-bloomskip") { base =>
      val o = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"))
      graft.sources.Bucketing.writeSorted(o, s"$base/orders", "o_orderkey", numFiles = 32)
      graft.sources.FileSkip.buildBloom(s, s"$base/orders", "o_custkey")
      graft.sources.FileSkip.scanPrunedEq(s, s"$base/orders", "o_custkey", 42L)
        .orderBy(col("o_orderkey"))
    },
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders " +
        "WHERE o_custkey = 42 ORDER BY o_orderkey")),
    // the graft-segment DataSource V2 connector (sources/segment/): the
    // FileSkip idea moved INSIDE the planner — orders written through
    // the native table format with range clustering demanded by the
    // write (RequiresDistributionAndOrdering), read back through the
    // connector with the filter PUSHED (SupportsPushDownFilters) so
    // whole segments prune against manifest zone maps before any task
    // launches; every filter stays residual, so the answer is provably
    // the plain relational one (skip counts asserted in
    // SegmentSourceSpec, correctness certified here)
    Cert("store_segment_roundtrip", (s, d) => withTempDir("graft-segrt") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d).write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "16")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("o_orderkey").between(1000L, 4000L) && col("o_orderstatus") =!= "P")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },
      // DSv2 round-trip: segment pruning + residual filters ≡ the plain
      // relational answer
      ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders " +
        "WHERE o_orderkey BETWEEN 1000 AND 4000 AND o_orderstatus <> 'P' " +
        "ORDER BY o_orderkey")),
    // timestamp zone maps on the DSv2 path: clustering by o_orderdate
    // makes each segment a contiguous date slice, the pushed range
    // predicate prunes to ~1/7 of the table, and the surviving rows
    // aggregate to exact integer cents — pruning must be
    // result-invisible under a GROUP BY, not just a row scan
    Cert("store_segment_dates", (s, d) => withTempDir("graft-segdates") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderdate"), round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderdate").option("numPartitions", "16")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("o_orderstatus"))
    },
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")),
    // metadata-only aggregates on the DSv2 path: global COUNT(*) /
    // COUNT(col) / MIN / MAX pushed into the connector
    // (SupportsPushDownAggregates + LocalScan) are answered from the
    // manifest on the DRIVER — zero data files opened, zero tasks.
    // The oracle computes the same aggregates from the rows, so this
    // row certifies the manifest stats are EXACT, not estimates
    Cert("store_segment_agg_meta", (s, d) => withTempDir("graft-segagg") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .agg(count(lit(1)).as("n_rows"), count(col("o_custkey")).as("n_cust"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
          min(col("o_orderstatus")).as("min_status"), max(col("o_orderstatus")).as("max_status"))
    },
      // manifest-answered aggregates must be EXACT vs the row-level truth
      ("SELECT count(*) AS n_rows, count(o_custkey) AS n_cust, " +
        "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
        "min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS min_cents, " +
        "max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS max_cents, " +
        "min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status " +
        "FROM orders")),
    // the storage-partitioned join through the graft CATALOG: orders
    // and customer land in co-bucketed segment tables (declared layout
    // `bucket(8, custkey)`, preserved by plain INSERTs), and the join
    // plans with ZERO exchanges — both sides' KeyGroupedPartitioning
    // matches, so Spark aligns buckets instead of shuffling 100 TB
    // (exchange-free plan asserted in GraftCatalogSpec; this row
    // certifies the aligned join's RESULTS against the plain oracle)
    Cert("store_segment_spj_join", (s, d) => withTempDir("graft-spj") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        Tables.orders(s, d).createOrReplaceTempView("graft_spj_orders_src")
        Tables.customer(s, d).createOrReplaceTempView("graft_spj_customer_src")
        s.sql(s"CREATE TABLE $cat.db.o (o_custkey BIGINT, cents BIGINT) " +
          "PARTITIONED BY (bucket(8, o_custkey))")
        s.sql(s"INSERT INTO $cat.db.o SELECT o_custkey, " +
          "CAST(round(o_totalprice * 100, 0) AS BIGINT) FROM graft_spj_orders_src")
        s.sql(s"CREATE TABLE $cat.db.c (c_custkey BIGINT, c_mktsegment STRING) " +
          "PARTITIONED BY (bucket(8, c_custkey))")
        s.sql(s"INSERT INTO $cat.db.c SELECT c_custkey, c_mktsegment " +
          "FROM graft_spj_customer_src")
        Session.withConfs(s,
            "spark.sql.sources.v2.bucketing.enabled" -> "true",
            "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          s.sql(
            s"""SELECT c.c_mktsegment, count(*) AS n_orders, sum(o.cents) AS sum_cents
              |FROM $cat.db.o o JOIN $cat.db.c c ON o.o_custkey = c.c_custkey
              |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
            .localCheckpoint(true)
        }
      }
    },
      // the exchange-free bucket-aligned join must equal the plain join
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    // additive schema evolution on the table format: a first commit
    // without `cents`, a mergeSchema append WITH it — the widened
    // table null-backfills the pre-evolution segments (per-segment
    // column lists in the manifest; readers map by name). Same
    // contract as store_schema_merge, native to the connector
    Cert("store_segment_evolve", (s, d) => withTempDir("graft-segevo") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 2 === 0).select(col("o_orderkey"), col("o_custkey"))
        .write.format("graft-segment").mode("append").save(dir)
      o.filter(col("o_orderkey") % 2 =!= 0)
        .write.format("graft-segment").option("mergeSchema", "true")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    },
      // pre-evolution rows carry NULL in the later column
      ("SELECT o_orderkey, o_custkey, CAST(NULL AS BIGINT) AS cents FROM orders " +
        "WHERE o_orderkey % 2 = 0 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 2 <> 0 ORDER BY o_orderkey")),
    // DELETE on the table format (the rewrite path: row-exact with SQL
    // semantics — null-condition rows survive; the metadata-only
    // whole-segment path is spec-certified with boundary-aligned
    // predicates in SegmentSourceSpec)
    Cert("store_segment_delete", (s, d) => withTempDir("graft-segdel") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance.deleteRows(s, dir,
        col("o_orderkey") % 7 === 0 || col("cents") > 20000000L)
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    },
      // DELETE keeps exactly the rows where the condition is not true
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders " +
        "WHERE NOT (o_orderkey % 7 = 0 OR CAST(round(o_totalprice * 100, 0) AS BIGINT) > 20000000) " +
        "ORDER BY o_orderkey")),
    // DELETION VECTORS (merge-on-read DELETE): the same shape as
    // store_segment_delete but via position bitmaps — no segment file
    // is rewritten; two successive DELETEs certify the bitmap union.
    // At 100 TB this is the GDPR tier: write cost ∝ matched rows, the
    // read-side filter runs inside the vectorized decode loop, and the
    // next compact() materializes the vectors away
    Cert("store_segment_dv", (s, d) => withTempDir("graft-segdv") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        col("o_orderkey") % 7 === 0)
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        col("cents") > 20000000L)
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    },
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders " +
        "WHERE NOT (o_orderkey % 7 = 0) " +
        "AND NOT (CAST(round(o_totalprice * 100, 0) AS BIGINT) > 20000000) " +
        "ORDER BY o_orderkey")),
    // merge-on-read UPDATE (updateMark): scattered point updates mark
    // old row versions in deletion vectors and append the new versions
    // in ONE commit — cost ∝ matched ROWS, not matched segments (the
    // group-based copy-on-write UPDATE rewrites whole segments)
    Cert("store_segment_dv_update", (s, d) => withTempDir("graft-segdvu") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance.updateMark(s, dir,
        col("o_orderkey") % 5 === 0, Map("cents" -> (col("cents") + 7L)))
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    },
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) + " +
        "CASE WHEN o_orderkey % 5 = 0 THEN 7 ELSE 0 END AS cents " +
        "FROM orders ORDER BY o_orderkey")),
    // Z-ORDER compaction on the native format (OPTIMIZE ZORDER BY):
    // interleaved-bit clustering keeps zone maps selective for
    // predicates on EITHER dimension — here the two-sided filter on
    // (doc_id, n_chars) after a rewrite that lexicographic clustering
    // could only serve for its leading key. dataChange=false: the
    // rewrite is invisible to streams and the change feed
    Cert("store_segment_zorder", (s, d) => withTempDir("graft-segzorder") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .write.format("graft-segment")
        .option("clusterBy", "doc_id").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance
        .compactZOrder(s, dir, Seq("doc_id", "n_chars"), numPartitions = 8)
      s.read.format("graft-segment").load(dir)
        .filter(col("doc_id") % 2 === 0 && col("n_chars").between(100, 500))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    },
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents " +
        "WHERE doc_id % 2 = 0 AND n_chars BETWEEN 100 AND 500 " +
        "GROUP BY lang ORDER BY lang")),
    // per-segment BLOOM pruning on the native format: o_custkey is
    // scattered relative to the o_orderkey clustering, so zone maps
    // see full-range bounds in every segment — the manifest bloom is
    // what lets a customer point-lookup skip segments at the driver.
    // Pruning is semantics-free (all filters residual); this row
    // certifies the answer, SegmentSourceSpec certifies the skipping
    Cert("store_segment_bloom", (s, d) => withTempDir("graft-segbloom") { base =>
      val dir = s"$base/t"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "16")
        .option("bloomFor", "o_custkey,o_orderstatus")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("o_custkey").isin(7L, 731L, 1301L))
        .orderBy(col("o_orderkey"))
    },
      ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders " +
        "WHERE o_custkey IN (7, 731, 1301) ORDER BY o_orderkey")),
    // non-additive schema evolution via COLUMN MAPPING (physical names
    // frozen at first commit): RENAME and DROP are metadata-only
    // manifest commits — no data rewrite at any table size — and a
    // re-added name never collides with its retired physical. Old rows
    // read under the new names; the dropped-then-readded column
    // null-backfills for them. The oracle replays the LOGICAL outcome
    Cert("store_segment_rename", (s, d) => withTempDir("graft-segren") { base =>
      val dir = s"$base/t"
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      Tables.orders(s, d).select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"),
          col("o_orderstatus").as("status"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "4")
        .mode("append").save(dir)
      graft.sources.segment.SegmentLog.renameColumn(fs, dir, "cents", "price_cents")
      graft.sources.segment.SegmentLog.dropColumn(fs, dir, "status")
      graft.sources.segment.SegmentLog.addColumn(fs, dir,
        org.apache.spark.sql.types.StructField("status",
          org.apache.spark.sql.types.StringType))
      Tables.orders(s, d)
        .select((col("o_orderkey") + 10000000L).as("k"),
          (round(col("o_totalprice") * 100.0, 0).cast("long") + 1L).as("price_cents"),
          lit("NEW").as("status"))
        .filter(col("k") % 3 === 0)
        .write.format("graft-segment").mode("append").save(dir)
      s.read.format("graft-segment").load(dir).orderBy(col("k"))
    },
      // the logical outcome of rename→drop→re-add→append: old rows carry
      // the renamed money column and a NULL re-added status; shifted-key
      // rows carry both
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders) " +
        "SELECT * FROM (" +
        "SELECT k, cents AS price_cents, CAST(NULL AS VARCHAR) AS status FROM src " +
        "UNION ALL SELECT o_orderkey + 10000000, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) + 1, 'NEW' FROM orders " +
        "WHERE (o_orderkey + 10000000) % 3 = 0) " +
        "ORDER BY k")),
    // row-level CHANGE FEED from manifest diffs (the batch CDC face of
    // the format): appends are inserts, a rewrite's replaced segments
    // are deletes + its output inserts (copy-on-write granularity —
    // unchanged rows in rewritten segments appear as equal-valued
    // delete+insert pairs), compaction contributes nothing. The oracle
    // replays every commit's closed form; the mid-sequence compact
    // must be INVISIBLE in the feed for the hashes to match
    Cert("store_segment_changes", (s, d) => withTempDir("graft-segchg") { base =>
      val dir = s"$base/t"
      val src = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      def put(pred: org.apache.spark.sql.Column): Unit =
        src.filter(pred).write.format("graft-segment")
          .option("clusterBy", "k").option("numPartitions", "4")
          .mode("append").save(dir)
      put(col("k") % 3 === 0)                                             // v0
      put(col("k") % 3 === 1)                                             // v1
      graft.sources.segment.GraftMaintenance.deleteRows(s, dir, col("k") % 5 === 0) // v2
      graft.sources.segment.GraftMaintenance.compact(s, dir, "k", 2)      // v3: no feed rows
      put(col("k") % 3 === 2)                                             // v4
      graft.sources.segment.GraftMaintenance.changes(s, dir, 0)
        .orderBy(col("_commit_version"), col("_change_type"), col("k"))
    },
      // the change feed's closed form, commit by commit: v1 appends
      // k%3=1; v2 (the deleteRows rewrite) deletes everything live and
      // re-inserts the survivors; v3 (compact) is absent; v4 appends
      // k%3=2. Keys are unique within each (version, change) slice
      segmentChangesOracleSql),
    // MERGE INTO on the table format (group-based copy-on-write): a
    // delta of updates/deletes/inserts lands through Spark's row-level
    // framework — the scan runtime-filters to segments holding matched
    // rows via the _segment metadata column, untouched segments pass
    // by reference, one manifest commit swaps the rest. Oracle = the
    // three-branch relational reconstruction over the same inputs
    Cert("store_segment_merge", (s, d) => withTempDir("graft-segmrg") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        Tables.orders(s, d).createOrReplaceTempView("graft_mrg_orders_src")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8')")
        s.sql(s"INSERT INTO $cat.db.t SELECT o_orderkey, " +
          "CAST(round(o_totalprice * 100, 0) AS BIGINT) FROM graft_mrg_orders_src " +
          "WHERE o_orderkey % 3 = 0")
        s.sql("CREATE OR REPLACE TEMP VIEW graft_mrg_delta AS " +
          "SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) + 11 AS cents, " +
          "CASE WHEN o_orderkey % 4 = 0 THEN 'D' ELSE 'U' END AS op " +
          "FROM graft_mrg_orders_src WHERE o_orderkey % 2 = 0")
        s.sql(
          s"""MERGE INTO $cat.db.t t USING graft_mrg_delta s ON t.k = s.k
            |WHEN MATCHED AND s.op = 'D' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET cents = s.cents
            |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, cents) VALUES (s.k, s.cents)
            |""".stripMargin)
        s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k").localCheckpoint(true)
      }
    },
      // MERGE ≡ unmatched-target ∪ updated-matches ∪ inserted-source
      ("WITH t AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 3 = 0), " +
        "s AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) + 11 AS cents, " +
        "CASE WHEN o_orderkey % 4 = 0 THEN 'D' ELSE 'U' END AS op " +
        "FROM orders WHERE o_orderkey % 2 = 0) " +
        "SELECT k, cents FROM t WHERE k NOT IN (SELECT k FROM s) " +
        "UNION ALL SELECT t.k, s.cents FROM t JOIN s ON t.k = s.k WHERE s.op <> 'D' " +
        "UNION ALL SELECT s.k, s.cents FROM s WHERE s.op <> 'D' AND s.k NOT IN (SELECT k FROM t) " +
        "ORDER BY k")),
    // TPC-H Q3 run END-TO-END ON the native table format: the three
    // star tables loaded into range-clustered segment tables, the
    // shipped query executed against the connector — scan pruning,
    // residual filters, broadcast planning and codegen all compose
    // under a real multi-join plan, and the answer must hash-match the
    // same oracle the parquet-path rel_q3_top_revenue certifies
    // against. "A user could run their queries on the native format",
    // stated as a gate row
    Cert("store_segment_q3", (s, d) => withTempDir("graft-segq3") { base =>
      def toSeg(df: DataFrame, name: String, key: String): DataFrame = {
        val dir = s"$base/$name"
        df.write.format("graft-segment")
          .option("clusterBy", key).option("numPartitions", "8")
          .mode("append").save(dir)
        s.read.format("graft-segment").load(dir)
      }
      StarQueries.q3TopRevenue(
        toSeg(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
          "customer", "c_custkey"),
        toSeg(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_orderdate")),
          "orders", "o_orderkey"),
        toSeg(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount")), "lineitem", "l_orderkey"),
        10)
    },
      // Q3 on the native format ≡ Q3 on parquet (rel_q3's oracle text)
      ("SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, " +
        "round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10")),
    // ORDER BY cluster-key LIMIT pushed into the connector
    // (SupportsPushDownTopN): strict non-overlapping range segments
    // mean the key-ordered covering prefix provably CONTAINS the true
    // top-N — one segment planned for a tail probe (plan cut asserted
    // in spec; exactness certified here against the plain oracle)
    Cert("store_segment_topn", (s, d) => withTempDir("graft-segtopn") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "16")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .orderBy(col("o_orderkey").desc).limit(25)
    },
      // the segment-cut top-N must be the plain top-N
      ("SELECT o_orderkey, o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders ORDER BY o_orderkey DESC LIMIT 25")),
    // incremental consumption (the batch face of the streaming
    // source's offset): `sinceVersion` reads exactly the rows
    // committed after a version over an append-only range — the
    // downstream-ETL "what's new since my last run" primitive,
    // composed here with a metadata-free aggregate over the increment
    Cert("store_segment_incremental", (s, d) => withTempDir("graft-seginc") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      Seq(0, 1, 2).foreach(i => o.filter(col("o_orderkey") % 3 === i)
        .write.format("graft-segment").mode("append").save(dir)) // v0, v1, v2
      s.read.format("graft-segment").option("sinceVersion", "0").load(dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_new"), sum(col("cents")).as("sum_cents"))
        .orderBy(col("o_custkey"))
    },
      // the increment past v0 is exactly the non-(k%3=0) rows
      ("SELECT o_custkey, count(*) AS n_new, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE o_orderkey % 3 <> 0 " +
        "GROUP BY o_custkey ORDER BY o_custkey")),
    // table-format time travel: every committed version stays readable
    // (`versionAsOf`), so the same query replays against v0 after an
    // append created v1 — the audit/debug primitive of the log design.
    // Certified as data: per-version count+sum must equal the oracle's
    // reconstruction of each snapshot
    Cert("store_segment_time_travel", (s, d) => withTempDir("graft-segtt") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 3 === 0).write.format("graft-segment")
        .mode("append").save(dir) // version 0
      o.filter(col("o_orderkey") % 3 =!= 0).write.format("graft-segment")
        .mode("append").save(dir) // version 1
      Seq(0, 1).map { v =>
        s.read.format("graft-segment").option("versionAsOf", v.toString).load(dir)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_cents"))
      }.reduce(_ unionByName _).orderBy(col("version"))
    },
      // each log version replays to its snapshot's aggregate
      ("SELECT 0 AS version, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE o_orderkey % 3 = 0 " +
        "UNION ALL " +
        "SELECT 1 AS version, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders ORDER BY version")),
    // TIMESTAMP AS OF: manifests carry a monotonized commit wall-clock
    // (SegmentLog.commitTimestamp), and binding picks the newest
    // retained version committed at or before t — each commit's own
    // stamp must therefore replay that commit's snapshot exactly (the
    // Delta/Iceberg time-denominated audit query). The SQL face is
    // loadTable(ident, timestamp) via the graft catalog; this row
    // certifies the read-option face on the same binder
    Cert("store_segment_time_travel_ts", (s, d) => withTempDir("graft-segttts") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 3 === 0).write.format("graft-segment")
        .mode("append").save(dir) // version 0
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      val ts0 = graft.sources.segment.SegmentLog.read(fs, dir).get.ts
      o.filter(col("o_orderkey") % 3 =!= 0).write.format("graft-segment")
        .mode("append").save(dir) // version 1 (strictly later stamp)
      val ts1 = graft.sources.segment.SegmentLog.read(fs, dir).get.ts
      Seq((0, ts0), (1, ts1)).map { case (snap, t) =>
        s.read.format("graft-segment").option("timestampAsOf", t.toString).load(dir)
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
          .select(lit(snap).as("snap"), col("n_rows"), col("sum_cents"))
      }.reduce(_ unionByName _).orderBy(col("snap"))
    },
      // each commit's own timestamp binds back to that commit's snapshot
      ("SELECT 0 AS snap, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE o_orderkey % 3 = 0 " +
        "UNION ALL " +
        "SELECT 1 AS snap, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders ORDER BY snap")),
    // RESTORE / rollback recovery: build v0 (partial) → v1 (full) →
    // v2 (merge-on-read DELETE), then CALL-style rollback to v1. The
    // latest read must replay the FULL pre-delete table (phase 1), and
    // history stays forward — `versionAsOf 2` still reads the deleted
    // state across the rollback (phase 0). One metadata commit, no
    // data rewritten at any table size (SegmentLog.rollback)
    Cert("store_segment_rollback", (s, d) => withTempDir("graft-segrb") { base =>
      val dir = s"$base/orders_seg"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 3 === 0).write.format("graft-segment")
        .mode("append").save(dir) // version 0
      o.filter(col("o_orderkey") % 3 =!= 0).write.format("graft-segment")
        .mode("append").save(dir) // version 1
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        col("o_orderkey") % 5 === 0) // version 2: DV-marked DELETE
      val (v, _, _) = graft.sources.segment.GraftMaintenance.rollback(s, dir, 1L)
      assert(v == 3L, s"rollback committed version $v, expected 3")
      val atV2 = s.read.format("graft-segment").option("versionAsOf", "2").load(dir)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(0).as("phase"), col("n_rows"), col("sum_cents"))
      val restored = s.read.format("graft-segment").load(dir)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(1).as("phase"), col("n_rows"), col("sum_cents"))
      atV2.unionByName(restored).orderBy(col("phase"))
    },
      // phase 0: the rolled-back (deleted) snapshot, still readable via
      // time travel; phase 1: the restored full table after rollback
      ("SELECT 0 AS phase, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders WHERE o_orderkey % 5 <> 0 " +
        "UNION ALL " +
        "SELECT 1 AS phase, count(*) AS n_rows, " +
        "CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM orders ORDER BY phase")),
    // schema evolution on the read path: files written before a column
    // existed merge with later files, the missing column null-backfilled
    // (mergeSchema reconciles footers at planning time — at 100 TB pin
    // the merged schema explicitly instead of paying a footer read per
    // file; semantics certified here are identical either way)
    Cert("store_schema_merge", (s, d) => withTempDir("graft-schema-evo") { base =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .write.parquet(s"$base/t/v1")
      o.filter(col("o_orderkey") % 2 =!= 0).write.parquet(s"$base/t/v2")
      s.read.option("mergeSchema", "true").option("recursiveFileLookup", "true")
        .parquet(s"$base/t")
        .orderBy(col("o_orderkey"))
    },
      // pre-evolution rows carry NULL in the later column
      ("SELECT o_orderkey, o_custkey, CAST(NULL AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 2 = 0 " +
        "UNION ALL SELECT o_orderkey, o_custkey, CAST(round(o_totalprice*100.0, 0) AS BIGINT) " +
        "FROM orders WHERE o_orderkey % 2 <> 0 ORDER BY o_orderkey")),
    // declarative expectations over the star schema: two constraints
    // that genuinely fail on this data (duplicate lineitem keys, price
    // cap) and two that hold (not-null, referential) — the report
    // certifies both directions
    Cert("store_constraints", (s, d) => {
      import graft.ops.Expect
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      Expect.report(Seq(
        "lineitem_key_unique" ->
          Expect.uniqueViolations(li, Seq("l_orderkey", "l_linenumber")),
        "orders_custkey_not_null" -> Expect.notNullViolations(o, "o_custkey"),
        "orders_price_cap" ->
          Expect.predicateViolations(o, col("o_totalprice") <= 400000.0),
        "orders_customer_fk" ->
          Expect.fkViolations(o, Tables.customer(s, d), "o_custkey", "c_custkey")))
        .orderBy(col("check_name"))
    },
      // each constraint replayed as its defining query
      ("SELECT 'lineitem_key_unique' AS check_name, CAST(count(*) AS BIGINT) AS n_violations " +
        "FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1) " +
        "UNION ALL SELECT 'orders_custkey_not_null', CAST(count(*) AS BIGINT) " +
        "FROM orders WHERE o_custkey IS NULL " +
        "UNION ALL SELECT 'orders_price_cap', CAST(count(*) AS BIGINT) " +
        "FROM orders WHERE NOT coalesce(o_totalprice <= 400000.0, FALSE) " +
        "UNION ALL SELECT 'orders_customer_fk', CAST(count(*) AS BIGINT) " +
        "FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey " +
        "WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL " +
        "ORDER BY check_name")),
    // one-pass column profile of the orders table (exact distincts;
    // the Hll swap is the documented scale path)
    Cert("store_profile", (s, d) =>
      graft.ops.Profile.profile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("col_name")),
      // per-column statistics, one branch per profiled column
      ("WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(o_orderkey) AS BIGINT) AS c1, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d1, " +
        "CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1, " +
        "CAST(count(o_custkey) AS BIGINT) AS c2, CAST(count(DISTINCT o_custkey) AS BIGINT) AS d2, " +
        "CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2, " +
        "CAST(count(o_orderstatus) AS BIGINT) AS c3, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d3, " +
        "min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3, " +
        "CAST(count(o_orderpriority) AS BIGINT) AS c4, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d4, " +
        "min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4 FROM orders) " +
        "SELECT 'o_orderkey' AS col_name, n_rows, n_rows - c1 AS n_nulls, d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM s " +
        "UNION ALL SELECT 'o_custkey', n_rows, n_rows - c2, d2, mn2, mx2 FROM s " +
        "UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - c3, d3, mn3, mx3 FROM s " +
        "UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - c4, d4, mn4, mx4 FROM s " +
        "ORDER BY col_name")),
    // snapshot diff: recover the change set between two table versions
    // (removed k%5, changed price on k%3 of the survivors, added
    // shifted keys for k%11) — change-proportional output, null-safe
    // compare
    Cert("store_table_diff", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      val neu = o.filter(col("k") % 5 =!= 0)
        .select(col("k"),
          when(col("k") % 3 === 0, col("cents") + 7L).otherwise(col("cents")).as("cents"))
        .union(o.filter(col("k") % 11 === 0)
          .select((col("k") + 10000000L).as("k"), col("cents")))
      graft.ops.Diff.snapshotDiff(o, neu, Seq("k"), Seq("cents"))
        .select(col("k").as("o_orderkey"), col("change_type"))
        .orderBy(col("o_orderkey"))
    },
      // full-outer reconciliation: presence decides added/removed, the
      // null-safe compare decides changed; unchanged keys drop out
      ("WITH o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice*100.0, 0) AS BIGINT) AS cents FROM orders), " +
        "n AS (SELECT k, CASE WHEN k % 3 = 0 THEN cents + 7 ELSE cents END AS cents FROM o WHERE k % 5 <> 0 " +
        "UNION ALL SELECT k + 10000000, cents FROM o WHERE k % 11 = 0) " +
        "SELECT coalesce(o.k, n.k) AS o_orderkey, " +
        "CASE WHEN o.k IS NULL THEN 'added' WHEN n.k IS NULL THEN 'removed' " +
        "WHEN o.cents IS DISTINCT FROM n.cents THEN 'changed' END AS change_type " +
        "FROM o FULL OUTER JOIN n ON o.k = n.k " +
        "WHERE o.k IS NULL OR n.k IS NULL OR o.cents IS DISTINCT FROM n.cents " +
        "ORDER BY o_orderkey")),
    // PSI drift between the store_table_diff versions: removed k%5
    // rows + shifted k%3 prices move the banded totalprice shape;
    // per-band terms on exact counts, add-one smoothed
    Cert("store_drift_psi", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val neu = o.filter(col("k") % 5 =!= 0)
        .select(col("k"),
          when(col("k") % 3 === 0, col("p") + 50000.0).otherwise(col("p")).as("p"))
      graft.ops.Drift.psi(o, neu, "p", width = 50000.0, nBands = 10)
        .orderBy(col("band"))
    },
      ("WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders), " +
        "neu AS (SELECT k, CASE WHEN k % 3 = 0 THEN p + 50000.0 ELSE p END AS p " +
        "FROM o WHERE k % 5 <> 0), " +
        "bo AS (SELECT CAST(least(greatest(floor(p / 50000.0), 0), 9) AS INT) AS band, " +
        "count(*) AS n FROM o GROUP BY band), " +
        "bn AS (SELECT CAST(least(greatest(floor(p / 50000.0), 0), 9) AS INT) AS band, " +
        "count(*) AS n FROM neu GROUP BY band), " +
        "g AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS band), " +
        "j AS (SELECT g.band AS band, CAST(coalesce(bo.n, 0) AS BIGINT) AS n_old, " +
        "CAST(coalesce(bn.n, 0) AS BIGINT) AS n_new " +
        "FROM g LEFT JOIN bo ON g.band = bo.band LEFT JOIN bn ON g.band = bn.band), " +
        "t AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old, CAST(sum(n_new) AS BIGINT) AS t_new FROM j) " +
        "SELECT band, n_old, n_new, " +
        "round((((n_old + 1) / CAST(t_old + 10 AS DOUBLE)) - ((n_new + 1) / CAST(t_new + 10 AS DOUBLE))) * " +
        "ln(((n_old + 1) / CAST(t_old + 10 AS DOUBLE)) / ((n_new + 1) / CAST(t_new + 10 AS DOUBLE))), 6) AS psi_term " +
        "FROM j CROSS JOIN t ORDER BY band")),
    // exact two-sample KS statistic, banding-free beside PSI: the
    // distributed prefix scan (range partitions + P-row offsets) keeps
    // the CDF off a single-partition window; discrepancy compared as
    // the integer |cumA·nB − cumB·nA|, ONE final division
    Cert("store_drift_ks", (s, d) => {
      val o = Tables.orders(s, d)
      graft.ops.Drift.ksStatistic(
        o.filter(col("o_orderkey") % 2 === 0), col("o_totalprice"),
        o.filter(col("o_orderkey") % 2 === 1),
        // +10000 shift below the threshold: exact in decimal AND double,
        // so the group keys replay identically in the oracle (a float
        // FACTOR would take different arithmetic paths in the engines)
        when(col("o_totalprice") < 150000, col("o_totalprice") + 10000)
          .otherwise(col("o_totalprice")))
    },
      // same add-one-smoothed shares in the same expression order; the
      // range(10) grid keeps empty bands present on both sides
      // KS: same per-value counts; the oracle's global cum window is fine
      // at its scale (the engine side distributes the prefix scan);
      // integer |cumA·nB − cumB·nA| discrepancy, ONE final division
      ("WITH t AS (SELECT CASE WHEN o_totalprice < 150000 AND o_orderkey % 2 = 1 " +
        "THEN o_totalprice + 10000 ELSE o_totalprice END AS v, " +
        "CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS is_a FROM orders), " +
        "pv AS (SELECT v, CAST(sum(is_a) AS BIGINT) AS n_a, " +
        "CAST(sum(1 - is_a) AS BIGINT) AS n_b FROM t GROUP BY v), " +
        "c AS (SELECT v, sum(n_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca, " +
        "sum(n_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb FROM pv), " +
        "tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb FROM pv) " +
        "SELECT round(CAST(max(abs(ca * nb - cb * na)) AS DOUBLE) / " +
        "CAST((max(na) * max(nb)) AS DOUBLE), 6) AS ks_d, " +
        "CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b " +
        "FROM c CROSS JOIN tot")),
    // Laplace-mechanism noisy counts (seeded-replay certification of
    // the MECHANISM — production swaps the salt for true randomness)
    Cert("store_dp_counts", (s, d) =>
      graft.ops.Anonymize.noisyCounts(
        Tables.customer(s, d), "c_nationkey", "dp", epsilon = 1.0)
        .orderBy(col("c_nationkey")),
      // same inverse-CDF in the same expression order over the same
      // hash uniform; u strictly inside (0,1) by the +0.5 offset
      ("WITH c AS (SELECT c_nationkey, count(*) AS n FROM customer GROUP BY c_nationkey), " +
        "u AS (SELECT c_nationkey, n, " +
        "(CAST('0x' || substr(md5('dp' || CAST(c_nationkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5) / 4294967296.0 AS uu " +
        "FROM c) " +
        "SELECT c_nationkey, round(n + -1.0 * sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5)), 4) AS noisy_count " +
        "FROM u ORDER BY c_nationkey")),
    // k-anonymity by suppression: quasi-identifier combinations
    // (nation, balance band) shared by < 5 rows are NULLed — one
    // window count + a conditional rewrite; the release-criterion
    // privacy op next to forget-cascade and PII scrub
    Cert("store_k_anonymity", (s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      graft.ops.Anonymize.kAnonymize(c, Seq("c_nationkey", "bal_band"), 5)
        .orderBy(col("c_custkey"))
    },
      ("WITH q AS (SELECT c_custkey, c_nationkey, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer), " +
        "n AS (SELECT q.*, count(*) OVER (PARTITION BY c_nationkey, bal_band) AS qi FROM q) " +
        "SELECT c_custkey, CASE WHEN qi >= 5 THEN c_nationkey END AS c_nationkey, " +
        "CASE WHEN qi >= 5 THEN bal_band END AS bal_band, qi < 5 AS suppressed " +
        "FROM n ORDER BY c_custkey")),
    // l-diversity audit over the k-anonymized release: per surviving
    // group, its size and distinct sensitive values (homogeneity-
    // attack check; the suppressed pool aggregates under NULLs)
    Cert("store_l_diversity", (s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      graft.ops.Anonymize.lDiversity(
          graft.ops.Anonymize.kAnonymize(c, Seq("c_nationkey", "bal_band"), 5),
          Seq("c_nationkey", "bal_band"), "c_mktsegment")
        .orderBy(col("c_nationkey"), col("bal_band"))
    },
      // the same suppression replayed, then per-group size + distinct
      // sensitive values (NULL-keyed suppressed pool groups as one)
      ("WITH lq AS (SELECT c_custkey, c_nationkey, c_mktsegment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer), " +
        "ln AS (SELECT lq.*, count(*) OVER (PARTITION BY c_nationkey, bal_band) AS qi FROM lq), " +
        "la AS (SELECT CASE WHEN qi >= 5 THEN c_nationkey END AS c_nationkey, " +
        "CASE WHEN qi >= 5 THEN bal_band END AS bal_band, c_mktsegment FROM ln) " +
        "SELECT c_nationkey, bal_band, CAST(count(*) AS BIGINT) AS group_n, " +
        "CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct " +
        "FROM la GROUP BY 1, 2 ORDER BY 1, 2")),
    // t-closeness audit over the same release shape: per QI group,
    // total-variation distance between the group's sensitive
    // distribution and the global one (integer-exact numerators,
    // single final division — see Anonymize.tCloseness)
    Cert("store_t_closeness", (s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      graft.ops.Anonymize.tCloseness(c, Seq("c_nationkey", "bal_band"), "c_mktsegment")
        .orderBy(col("c_nationkey"), col("bal_band"))
    },
      // t-closeness: integer-exact |n_gv·N − n_v·n_g| numerators, absent
      // values via the closed form N·n_g − Σ_present n_v·n_g, ONE final
      // float division — replayed token for token
      ("WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer), " +
        "gv AS (SELECT c_nationkey, bal_band, c_mktsegment, CAST(count(*) AS BIGINT) AS n_gv " +
        "FROM c GROUP BY 1, 2, 3), " +
        "v AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_v FROM c GROUP BY 1), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM c), " +
        "g AS (SELECT gv.*, n_v, n_total, " +
        "CAST(sum(n_gv) OVER (PARTITION BY c_nationkey, bal_band) AS BIGINT) AS n_g " +
        "FROM gv JOIN v USING (c_mktsegment) CROSS JOIN t), " +
        "f AS (SELECT c_nationkey, bal_band, CAST(max(n_g) AS BIGINT) AS group_n, " +
        "max(n_total) AS nn, CAST(sum(abs(n_gv * n_total - n_v * n_g)) AS BIGINT) AS pa, " +
        "CAST(sum(n_v * n_g) AS BIGINT) AS pq FROM g GROUP BY 1, 2) " +
        "SELECT c_nationkey, bal_band, group_n, " +
        "round(CAST(pa + (nn * group_n - pq) AS DOUBLE) / (2.0 * group_n * nn), 4) AS t_closeness " +
        "FROM f ORDER BY c_nationkey, bal_band")),
    // temporal join: every order looks up the customer's price TIER
    // version valid 30 days BEFORE the order — the event-time SCD2
    // dimension lookup; key equi-conjunct carries the join, interval
    // cover is residual, at most one version matches, facts before
    // first version keep nulls ('none')
    Cert("store_temporal_join", (s, d) => {
      val o = Tables.orders(s, d)
      val tier = when(col("o_totalprice") < 100000, "bronze")
        .when(col("o_totalprice") < 300000, "silver").otherwise("gold")
      val changes = o.select(col("o_custkey").as("k"),
        col("o_orderdate").cast("date").as("vfrom"), tier.as("tier"),
        col("o_orderkey").as("tie"))
      val history = graft.ops.Scd2.build(changes, "k", "vfrom", "tie")
      val facts = o.select(col("o_orderkey"), col("o_custkey").as("k"),
        date_sub(col("o_orderdate").cast("date"), 30).as("lookup_date"))
      graft.ops.Scd2.temporalJoin(facts, history, "k", "lookup_date", "vfrom")
        .select(col("o_orderkey"), col("k"),
          coalesce(col("tier"), lit("none")).as("prior_tier"))
        .orderBy(col("o_orderkey"))
    },
      // lead-built intervals partition time per key: at most one
      // version covers each fact's lookup date
      ("WITH ch AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS vfrom, " +
        "CASE WHEN o_totalprice < 100000 THEN 'bronze' " +
        "WHEN o_totalprice < 300000 THEN 'silver' ELSE 'gold' END AS tier, " +
        "o_orderkey AS tie FROM orders), " +
        "h AS (SELECT k, vfrom, tier, " +
        "lead(vfrom) OVER (PARTITION BY k ORDER BY vfrom, tie) AS valid_to FROM ch), " +
        "f AS (SELECT o_orderkey, o_custkey AS k, " +
        "CAST(o_orderdate AS DATE) - 30 AS lookup_date FROM orders) " +
        "SELECT f.o_orderkey AS o_orderkey, f.k AS k, " +
        "coalesce(h.tier, 'none') AS prior_tier " +
        "FROM f LEFT JOIN h ON h.k = f.k AND h.vfrom <= f.lookup_date " +
        "AND (h.valid_to IS NULL OR h.valid_to > f.lookup_date) " +
        "ORDER BY o_orderkey")),
    // right-to-be-forgotten cascade: erase customers k%97==0 and
    // everything FK-reachable (their orders, those orders' lineitems);
    // the audit summary certifies before/purged/after per table
    Cert("store_forget_cascade", (s, d) =>
      graft.ops.Forget.cascade(
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.customer(s, d).filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey")))
        .summary.orderBy(col("tbl")),
      // cascade membership replayed as IN-subqueries; purged derived
      // before/after so the audit can't drift from the data
      ("WITH k AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0), " +
        "po AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM k)) " +
        "SELECT 'customer' AS tbl, (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_before, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM customer WHERE c_custkey IN (SELECT c_custkey FROM k)) AS n_purged, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM k)) AS n_after " +
        "UNION ALL SELECT 'lineitem', (SELECT CAST(count(*) AS BIGINT) FROM lineitem), " +
        "(SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM po)), " +
        "(SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po)) " +
        "UNION ALL SELECT 'orders', (SELECT CAST(count(*) AS BIGINT) FROM orders), " +
        "(SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM k)), " +
        "(SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM k)) " +
        "ORDER BY tbl")),
    // CDC apply: a synthetic ops log (insert all, update k%3, delete
    // k%7, re-insert k%21 — tombstone-then-reinsert exercised) collapsed
    // to final table state in one window pass; the surviving seq shows
    // which op won
    Cert("store_cdc_apply", (s, d) =>
      graft.ops.Cdc.apply(cdcLog(s, d), Seq("k"), "seq", "op")
        .select(col("k").as("o_orderkey"), col("seq"), col("cents"))
        .orderBy(col("o_orderkey")),
      // newest op per key decides; deletes tombstone unless re-inserted
      cdcApplySql),
    // time travel: the table AS OF version 3 (deletes landed, the
    // seq-4 re-inserts have not happened yet), read through the
    // checkpoint-plus-delta-tail path — checkpoint at version 2 plus
    // the (2,3] tail — while the oracle replays the FULL log to v3:
    // a green row certifies the fast read path ≡ replay semantics
    Cert("store_time_travel", (s, d) => {
      val log = cdcLog(s, d)
      val ckpt = graft.ops.Cdc.applyAt(log, Seq("k"), "seq", "op", 2L)
      graft.ops.Cdc.applyAt(log, Seq("k"), "seq", "op", 3L, 2L, ckpt)
        .select(col("k").as("o_orderkey"), col("seq"), col("cents"))
        .orderBy(col("o_orderkey"))
    },
      cdcStateSql(" WHERE seq <= 3")),
    // the index-persistence contract: train → store four parquet
    // frames → reload → probe, never touching the corpus table at
    // query time; must answer bit-identically to emb_ivfpq_topk
    // (shared oracle)
    Cert("store_ann_roundtrip", (s, d) => {
      // probes the session's stored index directly (read-only — no
      // copy needed): train-once-store-once is the contract this
      // certificate exists to certify ([[annIndexFor]])
      val (idx, dsub) = annIndexFor(s, d)
      graft.ops.AnnIndex.ivfPqTopK(s, idx, embQueries(s, d), 4, dsub, 10, nprobe = 2)
        .orderBy(col("q_id"), col("rank"))
    },
      // the stored-index roundtrip answers bit-identically to the
      // in-memory IVF-PQ path, so it shares its oracle
      ivfPqTopkSql),
    // right-to-be-forgotten on the live index: vec_id%7 posting+code
    // rows physically deleted, then the same probe — deleted ids can
    // never rank; routing/codebooks stay (aggregate artifacts, retrain
    // is the scheduled path), which the oracle models as a candidate
    // predicate over the unchanged training CTEs
    Cert("store_ann_forget", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (idx, dsub) = annIndexFor(s, d)
      withTempDir("graft-annforget") { base =>
        copyDirInto(idx, base) // mutates its own copy, never the cache
        graft.ops.AnnIndex.removeVectors(s, base,
          emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
        graft.ops.AnnIndex.ivfPqTopK(s, base, embQueries(s, d), 4, dsub, 10, nprobe = 2)
          .orderBy(col("q_id"), col("rank"))
      }
    },
      ivfPqTopkSqlFiltered(" AND a2.vec_id % 7 <> 0")),

    // incremental ANN maintenance: planted near-copies appended to the
    // persisted index through the FROZEN centroids/codebooks (no
    // retrain — FAISS's add vs train split); the probe then surfaces
    // them, certifying appended vectors route/encode/score identically
    // to base vectors. The oracle trains on the base corpus only and
    // assigns/encodes the additions against those frozen tables
    Cert("store_ann_incremental", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (idx, dsub) = annIndexFor(s, d)
      withTempDir("graft-annincr") { base =>
        copyDirInto(idx, base) // mutates its own copy, never the cache
        val additions = emb.filter(col("vec_id") % 5 === 0).select(
          (col("vec_id") + lit(100000L)).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(1.01)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
        graft.ops.AnnIndex.appendVectors(s, base, additions, 4, dsub)
        graft.ops.AnnIndex.ivfPqTopK(s, base, embQueries(s, d), 4, dsub, 10, nprobe = 2)
          .orderBy(col("q_id"), col("rank"))
      }
    },
      // ivfSql/pqSql train on the BASE embeddings only (naturally frozen
      // wrt the additions); the appended near-copies are then assigned
      // (vs c1) and encoded (vs pc1) exactly as AnnIndex.appendVectors
      // does, and the ADC probe runs over the unioned postings/codes
      annIncrementalSql),
    // DESCRIBE HISTORY over the same commit sequence: every lifecycle
    // kind classified from manifest diffs alone (append / replace /
    // compact / append), per-version segment and row totals exact.
    // Deliberately no wall-clock column — deterministic, so the whole
    // introspection surface is oracle-checkable, not just eyeballed
    Cert("store_segment_history", (s, d) => withTempDir("graft-seghist") { base =>
      val dir = s"$base/t"
      val src = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      def put(pred: org.apache.spark.sql.Column): Unit =
        src.filter(pred).write.format("graft-segment")
          .option("clusterBy", "k").option("numPartitions", "4")
          .mode("append").save(dir)
      put(col("k") % 3 === 0)                                             // v0
      put(col("k") % 3 === 1)                                             // v1
      graft.sources.segment.GraftMaintenance.deleteRows(s, dir, col("k") % 5 === 0) // v2
      graft.sources.segment.GraftMaintenance.compact(s, dir, "k", 2)      // v3
      put(col("k") % 3 === 2)                                             // v4
      // commit_ts (the manifest wall-clock) is projected away here —
      // the E4 exclusion: the certificate hashes the deterministic
      // ledger, the spec certifies the timestamp face
      graft.sources.segment.GraftMaintenance.history(s, dir)
        .select("version", "kind", "n_segments", "n_rows")
        .orderBy(col("version"))
    },
      // the same commit sequence's lifecycle ledger in closed form:
      // counts from the predicates, segment totals from the declared
      // layouts (4-way clustered writes, the 2-way compact)
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders), " +
        "n0 AS (SELECT count(*) AS c FROM src WHERE k % 3 = 0), " +
        "n01 AS (SELECT count(*) AS c FROM src WHERE k % 3 IN (0, 1)), " +
        "nk AS (SELECT count(*) AS c FROM src WHERE k % 3 IN (0, 1) AND NOT k % 5 = 0), " +
        "nf AS (SELECT count(*) AS c FROM src WHERE k % 3 = 2) " +
        "SELECT * FROM (" +
        "SELECT CAST(0 AS BIGINT) AS version, 'append' AS kind, 4 AS n_segments, " +
        "CAST((SELECT c FROM n0) AS BIGINT) AS n_rows " +
        "UNION ALL SELECT 1, 'append', 8, (SELECT c FROM n01) " +
        "UNION ALL SELECT 2, 'replace', 4, (SELECT c FROM nk) " +
        "UNION ALL SELECT 3, 'compact', 2, (SELECT c FROM nk) " +
        "UNION ALL SELECT 4, 'append', 6, (SELECT c FROM nk) + (SELECT c FROM nf)) " +
        "ORDER BY version")),
    // the change feed ACROSS a rename: pre-rename rows come back under
    // the CURRENT logical name (physical names frozen — the
    // column-mapping contract), and the DDL commit itself contributes
    // no feed rows. Read through the readChangeFeed option directly
    Cert("store_segment_changes_rename", (s, d) => withTempDir("graft-segchgren") { base =>
      val dir = s"$base/t"
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      val src = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      src.filter(col("k") % 2 === 0).write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "4")
        .mode("append").save(dir)                                        // v0
      graft.sources.segment.SegmentLog.renameColumn(fs, dir, "cents", "price_cents") // v1
      src.filter(col("k") % 2 === 1)
        .select(col("k"), col("cents").as("price_cents"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "4")
        .mode("append").save(dir)                                        // v2
      s.read.format("graft-segment")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load(dir)
        .orderBy(col("_commit_version"), col("k"))
    },
      // pre-rename rows surface under the renamed column; the DDL commit
      // (v1) is feed-silent
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents FROM orders) " +
        "SELECT * FROM (" +
        "SELECT k, price_cents, 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version " +
        "FROM src WHERE k % 2 = 0 " +
        "UNION ALL SELECT k, price_cents, 'insert', 2 FROM src WHERE k % 2 = 1) " +
        "ORDER BY _commit_version, k")),
    // the ENTIRE lifecycle through SQL only — DDL, INSERTs, CALL
    // compact, CALL history (Spark 4 stored procedures on the graft
    // catalog): the ledger the procedure returns is the closed form
    // the oracle states. Nothing in this query touches the Scala
    // maintenance API directly
    Cert("store_segment_call", (s, d) => withTempDir("graft-segcall") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
        Tables.orders(s, d).createOrReplaceTempView("graft_call_orders")
        def ins(r: Int): Unit = s.sql(s"INSERT INTO $cat.db.t " +
          "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
          s"FROM graft_call_orders WHERE o_orderkey % 3 = $r")
        ins(0); ins(1)                                      // v1, v2
        s.sql(s"CALL $cat.system.compact('db.t', 'k', 2)")  // v3
        ins(2)                                              // v4
        // commit_ts projected away — the E4 exclusion (see
        // store_segment_history); the spec certifies the timestamp face
        s.sql(s"CALL $cat.system.history('db.t')")
          .select("version", "kind", "n_segments", "n_rows")
          .orderBy(col("version"))
      }
    },
      ("WITH src AS (SELECT o_orderkey AS k FROM orders), " +
        "n0 AS (SELECT count(*) AS c FROM src WHERE k % 3 = 0), " +
        "n01 AS (SELECT count(*) AS c FROM src WHERE k % 3 IN (0, 1)), " +
        "nall AS (SELECT count(*) AS c FROM src) " +
        "SELECT * FROM (" +
        "SELECT CAST(0 AS BIGINT) AS version, 'create' AS kind, 0 AS n_segments, " +
        "CAST(0 AS BIGINT) AS n_rows " +
        "UNION ALL SELECT 1, 'append', 4, (SELECT c FROM n0) " +
        "UNION ALL SELECT 2, 'append', 8, (SELECT c FROM n01) " +
        "UNION ALL SELECT 3, 'compact', 2, (SELECT c FROM n01) " +
        // the compact RE-DECLARED the layout (k, 2), and the catalog's
        // plain INSERT inherits the live layout: 2 new segments, not 4
        "UNION ALL SELECT 4, 'append', 4, (SELECT c FROM nall)) " +
        "ORDER BY version")),
    // CALL graft.system.stats: the WHOLE manifest statistics surface
    // as one frame — typed zone-map bounds reduced across segments
    // (engine-portable renders: ISO dates, epoch-micros timestamps),
    // null counts, the pre-merged NDV where declared, Σ/max value
    // bytes for string/binary — zero scans, what an operator reads
    // before sizing a job. The oracle recomputes every cell from the
    // source rows, so a wrong bound reduce, null count, canonical
    // render, sketch estimate or byte sum shows up as a cell diff
    Cert("store_segment_stats", (s, d) => withTempDir("graft-segstats") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, lang STRING, d DATE, " +
          // meta.title: dotted STRING len_sum/len_max ride the nested
          // collectors (r16 certifies the avgLen path through structs —
          // the byte-weighted row-width input for nested text)
          "ts TIMESTAMP, name STRING, blob BINARY, meta STRUCT<title: STRING>) " +
          // histFor rides along (r15): hist_ndv serves the frequency
          // map's EXACT distinct count for declared columns, NULL for
          // the rest — the oracle recomputes it as count(DISTINCT ...).
          // Only modulo-BOUNDED columns are declared: ts is injective
          // (distinct = row count), so its per-segment map would poison
          // past the cap at larger sf and the oracle's count(DISTINCT)
          // would diverge — d's <=900 and name's <=50 distinct hold at
          // ANY scale, which is the cap doctrine this certificate exists
          // to certify (name also covers the r16 STRING arm reaching
          // hist_ndv; its NULLs stay out of both map and COUNT DISTINCT)
          "TBLPROPERTIES ('ndvFor'='lang', 'histFor'='d,name', " +
          "'clusterBy'='doc_id', 'numPartitions'='4')")
        Tables.documents(s, d).createOrReplaceTempView("graft_stats_docs")
        s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, lang, " +
          "date_add(DATE'2020-01-01', CAST(doc_id % 900 AS INT)), " +
          "timestamp_micros(doc_id * 1000000 + doc_id % 777), " +
          "CASE WHEN doc_id % 97 = 0 THEN NULL " +
          "ELSE concat('n', lpad(CAST(doc_id % 50 AS STRING), 4, '0')) END, " +
          "encode(concat('b', CAST(doc_id % 10 AS STRING)), 'utf-8'), " +
          "named_struct('title', CASE WHEN doc_id % 11 = 0 THEN NULL " +
          "ELSE repeat('y', CAST(doc_id % 5 AS INT)) END) " +
          "FROM graft_stats_docs")
        s.sql(s"CALL $cat.system.stats('db.t')").orderBy(col("col_name"))
      }
    },
      // every stats cell recomputed from the source rows: bounds are
      // true min/max (ISO date / epoch-micros renders match the
      // procedure's canonicals), NDV on the declared under-k column is
      // the exact distinct count, len_sum/len_max are value byte sums;
      // binary carries lengths but (honestly) no bounds
      ("WITH src AS (SELECT doc_id, lang, " +
        "DATE '2020-01-01' + CAST(doc_id % 900 AS INT) AS d, " +
        "doc_id * 1000000 + doc_id % 777 AS tsu, " +
        "CASE WHEN doc_id % 97 = 0 THEN NULL " +
        "ELSE 'n' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') END AS name, " +
        "'b' || CAST(doc_id % 10 AS VARCHAR) AS blob_s, " +
        "CASE WHEN doc_id % 11 = 0 THEN NULL " +
        "ELSE repeat('y', CAST(doc_id % 5 AS INT)) END AS title " +
        "FROM documents) " +
        "SELECT * FROM (" +
        "SELECT 'blob' AS col_name, count(blob_s) AS n_values, " +
        "count(*) - count(blob_s) AS n_nulls, " +
        "CAST(NULL AS VARCHAR) AS min_val, CAST(NULL AS VARCHAR) AS max_val, " +
        "CAST(NULL AS DOUBLE) AS ndv_est, " +
        "CAST(sum(strlen(blob_s)) AS BIGINT) AS len_sum, " +
        "CAST(max(strlen(blob_s)) AS BIGINT) AS len_max, " +
        "CAST(NULL AS BIGINT) AS hist_ndv FROM src " +
        "UNION ALL SELECT 'd', count(d), count(*) - count(d), " +
        "CAST(min(d) AS VARCHAR), CAST(max(d) AS VARCHAR), NULL, NULL, NULL, " +
        "CAST(count(DISTINCT d) AS BIGINT) FROM src " +
        "UNION ALL SELECT 'doc_id', count(doc_id), count(*) - count(doc_id), " +
        "CAST(min(doc_id) AS VARCHAR), CAST(max(doc_id) AS VARCHAR), NULL, NULL, NULL, " +
        "NULL FROM src " +
        "UNION ALL SELECT 'lang', count(lang), count(*) - count(lang), " +
        "min(lang), max(lang), CAST(count(DISTINCT lang) AS DOUBLE), " +
        "CAST(sum(strlen(lang)) AS BIGINT), " +
        "CAST(max(strlen(lang)) AS BIGINT), NULL FROM src " +
        "UNION ALL SELECT 'name', count(name), count(*) - count(name), " +
        "min(name), max(name), NULL, " +
        "CAST(sum(strlen(name)) AS BIGINT), " +
        "CAST(max(strlen(name)) AS BIGINT), " +
        "CAST(count(DISTINCT name) AS BIGINT) FROM src " +
        "UNION ALL SELECT 'meta', count(*), 0, NULL, NULL, NULL, NULL, NULL, " +
        "NULL FROM src " +
        "UNION ALL SELECT 'meta.title', count(title), count(*) - count(title), " +
        "min(title), max(title), NULL, " +
        "CAST(sum(strlen(title)) AS BIGINT), " +
        "CAST(max(strlen(title)) AS BIGINT), NULL FROM src " +
        "UNION ALL SELECT 'ts', count(tsu), count(*) - count(tsu), " +
        "CAST(min(tsu) AS VARCHAR), CAST(max(tsu) AS VARCHAR), NULL, NULL, NULL, " +
        "NULL FROM src" +
        ") ORDER BY col_name")),
    // VALUE-FREQUENCY HISTOGRAMS on the native format (r15): declared
    // columns collect exact bounded frequency maps per segment; every
    // commit pre-merges the table-level map into the manifest, and
    // `CALL graft.system.histogram` serves it with zero scans —
    // the skew statistic whose equi-height conversion feeds catalyst's
    // FilterEstimation (the CBO plan-flip is HistCboSpec). Values are
    // the long canonicals (epoch days for DATE, epoch micros for
    // TIMESTAMP); the oracle recomputes every (column, value, count)
    // from the source rows — the map is EXACT within the caps, so this
    // replay certifies collection, merge and the commit pre-merge
    Cert("store_segment_hist", (s, d) => withTempDir("graft-seghist") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, bucket INT, d DATE, " +
          "ts TIMESTAMP, money DECIMAL(12,2), meta STRUCT<code: INT>, " +
          // the STRING arm (r16): engine-local maps, value = the string
          // itself in UTF-8 byte order; <=29 distinct at ANY scale (the
          // cap doctrine), served in value_str beside the long canonicals
          "tag STRING) " +
          "TBLPROPERTIES ('histFor'='bucket,d,money,ts,meta.code,tag', " +
          "'clusterBy'='doc_id', 'numPartitions'='4')")
        Tables.documents(s, d).createOrReplaceTempView("graft_hist_docs")
        // two INSERTs: the second exercises the append-only pre-merge
        // fast path (merged-at-commit ≡ merge-of-per-segment either way)
        Seq("= 0", "<> 0").foreach { pred =>
          s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, " +
            "CAST(doc_id % 37 AS INT), " +
            "date_add(DATE'2021-06-01', CAST(doc_id % 45 AS INT)), " +
            "timestamp_micros((doc_id % 23) * 1000000), " +
            // DECIMAL rides as its UNSCALED long: (doc_id%50)*100 + 25
            "CAST(doc_id % 50 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(3,2)), " +
            "named_struct('code', CAST(doc_id % 11 AS INT)), " +
            "concat('t', lpad(CAST(doc_id % 29 AS STRING), 2, '0')) " +
            s"FROM graft_hist_docs WHERE doc_id % 2 $pred")
        }
        s.sql(s"CALL $cat.system.histogram('db.t')")
          .orderBy(col("col_name"), col("value"), col("value_str"))
      }
    },
      // every (column, value, count) of the manifest frequency maps
      // recomputed from the source rows: values are the long canonicals —
      // DATE as epoch days (date minus epoch in DuckDB is integer days),
      // TIMESTAMP as the same epoch-micros arithmetic that built it
      ("SELECT col_name, value, value_str, cnt, true AS exact FROM (" +
        "SELECT 'bucket' AS col_name, CAST(doc_id % 37 AS BIGINT) AS value, " +
        "CAST(NULL AS VARCHAR) AS value_str, " +
        "count(*) AS cnt FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'd', CAST(DATE '2021-06-01' + CAST(doc_id % 45 AS INT) " +
        "- DATE '1970-01-01' AS BIGINT), NULL, count(*) FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'meta.code', CAST(doc_id % 11 AS BIGINT), NULL, count(*) " +
        "FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'money', CAST((doc_id % 50) * 100 + 25 AS BIGINT), NULL, " +
        "count(*) FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'tag', NULL, " +
        "'t' || lpad(CAST(doc_id % 29 AS VARCHAR), 2, '0'), count(*) " +
        "FROM documents GROUP BY 3 " +
        "UNION ALL SELECT 'ts', CAST((doc_id % 23) * 1000000 AS BIGINT), NULL, count(*) " +
        "FROM documents GROUP BY 2" +
        ") ORDER BY col_name, value, value_str")),
    // the DV-honesty face of the statistics procedures (r16): the
    // frequency maps count deletion-vector'd rows until compaction, so
    // after a merge-on-read DELETE the served counts are PRE-delete
    // mass — `exact` flips to false, annotated instead of silent. The
    // oracle replays the FULL corpus (the pre-delete truth the maps
    // hold) with exact = false
    Cert("store_segment_hist_dv", (s, d) => withTempDir("graft-seghistdv") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, bucket INT, tag STRING) " +
          "TBLPROPERTIES ('histFor'='bucket,tag', " +
          "'clusterBy'='doc_id', 'numPartitions'='4')")
        Tables.documents(s, d).createOrReplaceTempView("graft_histdv_docs")
        s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, " +
          "CAST(doc_id % 19 AS INT), " +
          "concat('t', lpad(CAST(doc_id % 23 AS STRING), 2, '0')) " +
          "FROM graft_histdv_docs")
        s.sql(s"CALL $cat.system.delete_mark('db.t', 'doc_id % 3 = 0')").collect()
        s.sql(s"CALL $cat.system.histogram('db.t')")
          .orderBy(col("col_name"), col("value"), col("value_str"))
      }
    },
      // the DV annotation: delete_mark leaves rows dv'd (not rewritten),
      // the maps keep the PRE-delete mass, and exact = false says so —
      // the oracle replays the full corpus with the flag down
      ("SELECT col_name, value, value_str, cnt, false AS exact FROM (" +
        "SELECT 'bucket' AS col_name, CAST(doc_id % 19 AS BIGINT) AS value, " +
        "CAST(NULL AS VARCHAR) AS value_str, " +
        "count(*) AS cnt FROM documents GROUP BY 2 " +
        "UNION ALL SELECT 'tag', NULL, " +
        "'t' || lpad(CAST(doc_id % 23 AS VARCHAR), 2, '0'), count(*) " +
        "FROM documents GROUP BY 3" +
        ") ORDER BY col_name, value, value_str")),
    // METADATA-ONLY QUANTILES off the merged frequency maps (r15):
    // the value at row ceil(q×N) in value order — zero scans at any
    // table size, exact within the caps, and the oracle replays the
    // SAME discrete rule as a windowed cumulative sum over the source
    // rows. One skewed column (75% hot value — the quantile shape the
    // statistic exists for) and one uniform decimal (unscaled-long
    // canonical)
    Cert("store_segment_quantiles", (s, d) => withTempDir("graft-segq") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, bucket INT, " +
          "money DECIMAL(12,2), " +
          // the STRING arm: 80%-hot tag — the byte-order discrete
          // quantile (= DuckDB's default binary collation ORDER BY)
          "tag STRING) " +
          "TBLPROPERTIES ('histFor'='bucket,money,tag', " +
          "'clusterBy'='doc_id', 'numPartitions'='4')")
        Tables.documents(s, d).createOrReplaceTempView("graft_quant_docs")
        s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, " +
          "CASE WHEN doc_id % 4 < 3 THEN 7 ELSE CAST(doc_id % 37 AS INT) END, " +
          "CAST(doc_id % 50 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(3,2)), " +
          "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
          "ELSE concat('c', lpad(CAST(doc_id % 13 AS STRING), 2, '0')) END " +
          "FROM graft_quant_docs")
        s.sql(s"CALL $cat.system.quantiles('db.t', '0.1,0.5,0.9,0.99')")
          .orderBy(col("col_name"), col("q"))
      }
    },
      // the same discrete rule — value at row ceil(q×N) in value order —
      // replayed as a windowed cumulative sum over the source rows
      ("WITH src AS (SELECT " +
        "CASE WHEN doc_id % 4 < 3 THEN 7 ELSE CAST(doc_id % 37 AS INT) END AS b, " +
        "(doc_id % 50) * 100 + 25 AS mu, " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE 'c' || lpad(CAST(doc_id % 13 AS VARCHAR), 2, '0') END AS tg " +
        "FROM documents), " +
        "n AS (SELECT count(*) AS n FROM src), " +
        "qs AS (SELECT CAST(unnest([0.1, 0.5, 0.9, 0.99]) AS DOUBLE) AS q), " +
        "cb AS (SELECT b AS value, count(*) AS cnt FROM src GROUP BY 1), " +
        "cumb AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cum FROM cb), " +
        "cm AS (SELECT mu AS value, count(*) AS cnt FROM src GROUP BY 1), " +
        "cumm AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cum FROM cm), " +
        "ct AS (SELECT tg AS value, count(*) AS cnt FROM src GROUP BY 1), " +
        "cumt AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cum FROM ct) " +
        "SELECT col_name, q, value, value_str, true AS exact FROM (" +
        "SELECT 'bucket' AS col_name, q, (SELECT CAST(min(value) AS BIGINT) FROM cumb " +
        "WHERE cum >= greatest(1, CAST(ceil(q * (SELECT n FROM n)) AS BIGINT))) AS value, " +
        "CAST(NULL AS VARCHAR) AS value_str FROM qs " +
        "UNION ALL SELECT 'money', q, (SELECT CAST(min(value) AS BIGINT) FROM cumm " +
        "WHERE cum >= greatest(1, CAST(ceil(q * (SELECT n FROM n)) AS BIGINT))), NULL FROM qs " +
        "UNION ALL SELECT 'tag', q, NULL, (SELECT min(value) FROM cumt " +
        "WHERE cum >= greatest(1, CAST(ceil(q * (SELECT n FROM n)) AS BIGINT))) FROM qs" +
        ") ORDER BY col_name, q")),
    // the salts procedure certified: the SQL face's derived fan-out
    // (both map arms) against an independent DuckDB replay of the
    // same arithmetic — ceil(hottest count / target), clamped —
    // computed from the source rows the manifest maps equal
    Cert("store_segment_salts", (s, d) => withTempDir("graft-segsalts") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, tag STRING) " +
          "TBLPROPERTIES ('histFor'='k,tag', " +
          "'clusterBy'='k', 'numPartitions'='4')")
        Tables.documents(s, d).createOrReplaceTempView("graft_salts_docs")
        s.sql(s"INSERT INTO $cat.db.t SELECT " +
          "CASE WHEN doc_id % 4 < 3 THEN 7 ELSE doc_id % 97 END, " +
          "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
          "ELSE concat('c', lpad(CAST(doc_id % 13 AS STRING), 2, '0')) END " +
          "FROM graft_salts_docs")
        // the composite arm (r18) runs at a DIFFERENT target (30) so
        // min(ceil(hot_k/30), ceil(hot_tag/30)) cannot coincide with
        // either single-column arm's value at 50 — the oracle's min
        // replay genuinely discriminates; the fourth arm includes an
        // undeclared column, which contributes no bound (not a veto)
        (Seq(("k", 50), ("tag", 50), ("k,tag", 30), ("k,nodecl", 50)).map {
          case (c, target) =>
            s.sql(s"CALL $cat.system.salts('db.t', '$c', $target)")
              .select(lit(c).as("col_name"), col("salts"), col("derived"),
                col("exact"))
        }).reduce(_.unionByName(_)).orderBy(col("col_name"))
      }
    },
      // the derived fan-out replayed from source rows: the manifest maps
      // are the exact GROUP BY, so the hottest count is too
      ("WITH src AS (SELECT CASE WHEN doc_id % 4 < 3 THEN 7 " +
        "ELSE doc_id % 97 END AS k, " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE 'c' || lpad(CAST(doc_id % 13 AS VARCHAR), 2, '0') END AS tag " +
        "FROM documents), " +
        "hk AS (SELECT max(c) AS hot FROM (SELECT count(*) AS c FROM src GROUP BY k)), " +
        "ht AS (SELECT max(c) AS hot FROM (SELECT count(*) AS c FROM src GROUP BY tag)) " +
        "SELECT col_name, salts, true AS derived, true AS exact FROM (" +
        "SELECT 'k' AS col_name, CAST(least(64, greatest(1, " +
        "CAST(ceil(CAST((SELECT hot FROM hk) AS DOUBLE) / 50) AS BIGINT))) AS INT) AS salts " +
        "UNION ALL SELECT 'tag', CAST(least(64, greatest(1, " +
        "CAST(ceil(CAST((SELECT hot FROM ht) AS DOUBLE) / 50) AS BIGINT))) AS INT) " +
        // the composite bound: min over declared columns at target 30
        "UNION ALL SELECT 'k,tag', CAST(least(" +
        "least(64, greatest(1, CAST(ceil(CAST((SELECT hot FROM hk) AS DOUBLE) / 30) AS BIGINT))), " +
        "least(64, greatest(1, CAST(ceil(CAST((SELECT hot FROM ht) AS DOUBLE) / 30) AS BIGINT)))" +
        ") AS INT) " +
        // an undeclared column contributes no bound — k's alone
        "UNION ALL SELECT 'k,nodecl', CAST(least(64, greatest(1, " +
        "CAST(ceil(CAST((SELECT hot FROM hk) AS DOUBLE) / 50) AS BIGINT))) AS INT)" +
        ") ORDER BY col_name")),
    // ZERO-SCAN JOIN CARDINALITY (r17): both sides' frequency maps
    // are exact within caps over non-null values — precisely the rows
    // an inner equi-join matches — so Σ cA(v)·cB(v) read off two
    // manifests IS the exact join count, no scan of either table. The
    // oracle replays the actual COUNT(*) joins; the undeclared probe
    // certifies the honesty path (NULL, never a uniform-assumption
    // guess). At 100 TB the alternative is running the join to size it
    Cert("store_join_estimate", (s, d) => withTempDir("graft-jest") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.a (k BIGINT, tag STRING, u BIGINT) " +
          "TBLPROPERTIES ('histFor'='k,tag')")
        s.sql(s"CREATE TABLE $cat.db.b (k BIGINT, tag STRING, u BIGINT) " +
          "TBLPROPERTIES ('histFor'='k,tag')")
        Tables.documents(s, d).createOrReplaceTempView("graft_jest_docs")
        s.sql(s"INSERT INTO $cat.db.a SELECT " +
          "CASE WHEN doc_id % 4 < 3 THEN 7 ELSE doc_id % 97 END, " +
          "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
          "ELSE concat('c', lpad(CAST(doc_id % 13 AS STRING), 2, '0')) END, " +
          "doc_id FROM graft_jest_docs")
        s.sql(s"INSERT INTO $cat.db.b SELECT doc_id % 13, " +
          "CASE WHEN doc_id % 3 = 0 THEN 'hot' " +
          "ELSE concat('c', lpad(CAST(doc_id % 20 AS STRING), 2, '0')) END, " +
          "doc_id FROM graft_jest_docs")
        Seq(("k_long", "k", "k"), ("tag_str", "tag", "tag"),
            ("undeclared", "u", "u")).map { case (probe, colA, colB) =>
            s.sql(s"CALL $cat.system.join_estimate('db.a', '$colA', 'db.b', '$colB')")
              .select(lit(probe).as("probe"), col("n_rows"), col("derived"),
                col("exact"))
          }
          .reduce(_.unionByName(_)).orderBy(col("probe"))
      }
    },
      // the metadata-derived join counts replayed as the ACTUAL joins
      ("WITH a AS (SELECT CASE WHEN doc_id % 4 < 3 THEN 7 " +
        "ELSE doc_id % 97 END AS k, " +
        "CASE WHEN doc_id % 5 < 4 THEN 'hot' " +
        "ELSE 'c' || lpad(CAST(doc_id % 13 AS VARCHAR), 2, '0') END AS tag " +
        "FROM documents), " +
        "b AS (SELECT doc_id % 13 AS k, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'hot' " +
        "ELSE 'c' || lpad(CAST(doc_id % 20 AS VARCHAR), 2, '0') END AS tag " +
        "FROM documents) " +
        "SELECT probe, n_rows, derived, exact FROM (" +
        "SELECT 'k_long' AS probe, CAST((SELECT count(*) FROM a JOIN b " +
        "ON a.k = b.k) AS BIGINT) AS n_rows, true AS derived, true AS exact " +
        "UNION ALL SELECT 'tag_str', CAST((SELECT count(*) FROM a JOIN b " +
        "ON a.tag = b.tag) AS BIGINT), true, true " +
        "UNION ALL SELECT 'undeclared', NULL, false, true" +
        ") ORDER BY probe")),
    // MIXTURE REBALANCING FROM METADATA (r16): the per-source totals
    // that drive the mixture keep-rates come straight off the
    // manifest's string frequency map — ZERO scans for the totals
    // (the existing text_mixture_sample pays a corpus-wide token
    // aggregate; at 100 TB a per-source doc-count mixture reads
    // O(sources) manifest entries instead). Same rate arithmetic and
    // md5 predicate; the oracle recomputes the totals as the exact
    // GROUP BY the map is certified to equal
    Cert("store_mixture_metadata", (s, d) => withTempDir("graft-mixmeta") { base =>
      val dir = s"$base/docs"
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .write.format("graft-segment").option("histFor", "source")
        .mode("append").save(dir)
      val totals = manifestStrTotals(s, dir, "source")
      Sampling.mixtureSample(s.read.format("graft-segment").load(dir),
          col("doc_id"), col("source"), totals, mixShares, "mixsalt")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // the metadata-derived mixture: identical rate chain to
      // text_mixture_sample with DOC counts as the totals — the GROUP BY
      // here is exactly what the manifest string map equals by contract
      (s"WITH t AS (SELECT source, CAST(count(*) AS BIGINT) AS toks FROM documents GROUP BY source), " +
        s"sh(source, share) AS (VALUES $mixSharesValuesSql), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM t JOIN sh USING (source) WHERE share > 0), " +
        "r AS (SELECT source, least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate " +
        "FROM t JOIN sh USING (source) CROSS JOIN c WHERE share > 0), " +
        "thr AS (SELECT source, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM r) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN thr ON d.source = thr.source " +
        "WHERE substr(md5('mixsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr " +
        "ORDER BY d.doc_id")),
    // TEMPERATURE mixture (r17): shares derived from the corpus's own
    // per-source masses — share_s ∝ n_s^alpha, the pre-training
    // data-mixing knob — with the totals off the manifest string map
    // (zero scans) and alpha = 0.5 so the whole rate chain is sqrt /
    // div / mul on identical operands in both engines (the normalizer
    // cancels inside mixtureRates, so no cross-source double SUM
    // exists to diverge). The stratum is DERIVED 75%-hot (the test
    // data's natural sources are uniform, where temperature keeps
    // everything and certifies nothing): the hot source must be
    // downsampled to rate ~sqrt(n_min/n_hot), the tail kept near 1.
    // Closed form the oracle replays: rate_s = min(1, sqrt(n_min/n_s))
    Cert("store_mixture_temperature", (s, d) => withTempDir("graft-mixtemp") { base =>
      val dir = s"$base/docs"
      Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 4 < 3, lit("web"))
            .otherwise(concat(lit("s"), col("doc_id") % 7)).as("src"))
        .write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir)
      val totals = manifestStrTotals(s, dir, "src")
      Sampling.mixtureSample(s.read.format("graft-segment").load(dir),
          col("doc_id"), col("src"), totals,
          Sampling.temperatureShares(totals, 0.5), "tempsalt")
        .select(col("doc_id"), col("src"))
        .orderBy(col("doc_id"))
    },
      // temperature mixture: share = sqrt(count) per source, identical
      // rate chain — sqrt/div/mul on the same operands, no cross-source
      // sum anywhere (the normalizer cancels inside the rate formula)
      ("WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 4 < 3 THEN 'web' " +
        "ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS src FROM documents), " +
        "t AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM docs GROUP BY src), " +
        "sh AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM t), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM sh), " +
        "r AS (SELECT src, least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate FROM sh CROSS JOIN c), " +
        "thr AS (SELECT src, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM r) " +
        "SELECT d.doc_id, d.src FROM docs d JOIN thr ON d.src = thr.src " +
        "WHERE substr(md5('tempsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr " +
        "ORDER BY d.doc_id")),
    // the mixture statistic's SQL face: per-value temperature
    // keep-rates straight off the manifest map via CALL — the same
    // temperatureShares→mixtureRates chain the operator uses, zero
    // scans, dv-annotated; the oracle replays the sqrt/div/mul chain
    // over the exact GROUP BY the map equals
    Cert("store_mixture_rates", (s, d) => withTempDir("graft-mixrates") { base =>
      val dir = s"$base/docs"
      Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 4 < 3, lit("web"))
            .otherwise(concat(lit("s"), col("doc_id") % 7)).as("src"))
        .write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir)
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CALL $cat.system.mixture_rates('$dir', 'src', 0.5)")
          .orderBy(col("value"))
      }
    },
      // the CALL face's rates replayed over the exact GROUP BY
      ("WITH docs AS (SELECT CASE WHEN doc_id % 4 < 3 THEN 'web' " +
        "ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS src FROM documents), " +
        "t AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM docs GROUP BY src), " +
        "sh AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM t), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM sh) " +
        "SELECT src AS value, toks AS n_rows, " +
        "least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate, " +
        "true AS exact FROM sh CROSS JOIN c ORDER BY value")),
    // AUTO-SALT from the skew statistic (r16): the salted join's
    // fan-out is DERIVED from the manifest frequency map (hot-key
    // mass / target slot rows — Skew.saltsForTable), not guessed by
    // the caller; the certificate writes a 75%-hot fact into the
    // native format, derives the factor with zero scans, and joins —
    // certified against the PLAIN join's oracle because salting must
    // be invisible in the result at ANY factor (the derivation's own
    // arithmetic is spec-pinned in OpsSpec)
    Cert("store_join_autosalt", (s, d) => withTempDir("graft-autosalt") { base =>
      val dir = s"$base/fact"
      val fact = Tables.lineitem(s, d).select(
        when(col("l_orderkey") % 4 < 3, lit(7L))
          .otherwise(col("l_orderkey") % 97).as("k"),
        col("l_extendedprice"))
      fact.write.format("graft-segment").option("histFor", "k")
        .mode("append").save(dir)
      val factT = s.read.format("graft-segment").load(dir)
      val n = factT.count()
      // a fixed 32 slots, not the session's Session.cores, so the
      // derived fan-out does not follow the host's core count; the
      // 75%-hot key then derives ~24 salts where the undeclared
      // fallback would guess 8
      val salts = graft.ops.Skew.saltsForTable(s, dir, "k",
        fallback = 8, targetRowsPerSlot = math.max(1L, n / 32))
      val dim = factT.select(col("k")).distinct()
        .withColumn("grp", concat(lit("g"), pmod(col("k"), lit(5))))
      graft.ops.Skew.saltedJoin(factT, dim, "k", salts)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("total_price"))
        .orderBy(col("grp"))
    },
      // the auto-salted join replayed as the PLAIN join: the derived
      // fan-out must be invisible in the result by construction
      ("WITH fact AS (SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 " +
        "ELSE l_orderkey % 97 END AS k, l_extendedprice FROM lineitem), " +
        "dim AS (SELECT DISTINCT k, 'g' || CAST(k % 5 AS VARCHAR) AS grp FROM fact) " +
        "SELECT grp, CAST(count(*) AS BIGINT) AS n_lines, " +
        "round(sum(l_extendedprice), 2) AS total_price " +
        "FROM fact JOIN dim USING (k) GROUP BY grp ORDER BY grp")),
    // CHECK constraints (the Delta ADD CONSTRAINT shape as validated
    // check.* TBLPROPERTIES): a declared predicate gates EVERY write —
    // the violating INSERT below fails atomically (nothing lands), so
    // the table holds exactly the rows that satisfy the constraint.
    // The oracle replays the surviving inserts' closed form
    Cert("store_segment_check_constraint", (s, d) => withTempDir("graft-segck") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('check.cents_positive'='cents > 0')")
        Tables.orders(s, d).createOrReplaceTempView("graft_check_orders")
        s.sql(s"INSERT INTO $cat.db.t " +
          "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
          "FROM graft_check_orders WHERE o_orderkey % 3 = 0")
        // the violating batch (negated prices) must fail whole: the
        // enforcement is write-side, the commit atomic
        val rejected = scala.util.Try(s.sql(s"INSERT INTO $cat.db.t " +
          "SELECT o_orderkey, -CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
          "FROM graft_check_orders WHERE o_orderkey % 3 = 1")).isFailure
        assert(rejected, "the violating INSERT must be rejected")
        s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
      }
    },
      // only the constraint-satisfying insert survives; the violating
      // batch failed whole (write-side enforcement, atomic commit)
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 3 = 0 ORDER BY k")),
    // PARTIAL compaction end-to-end: deleteMark leaves vectors,
    // compactDeletes materializes ONLY the dv'd segments, compactWhere
    // re-clusters only the hot key range — and the table's content is
    // invariant under both (compaction is reorganization, not change)
    Cert("store_segment_compact_where", (s, d) => withTempDir("graft-segcw") { base =>
      val dir = s"$base/orders_seg"
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "o_orderkey").option("numPartitions", "8")
        .mode("append").save(dir)
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        col("cents") % 10 === 3)
      graft.sources.segment.GraftMaintenance.compactDeletes(s, dir)
      graft.sources.segment.GraftMaintenance.compactWhere(s, dir,
        org.apache.spark.sql.sources.LessThan("o_orderkey", 1000L))
      s.read.format("graft-segment").load(dir).orderBy(col("o_orderkey"))
    },
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders " +
        "WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) % 10 <> 3 " +
        "ORDER BY o_orderkey")),
    // CTAS / RTAS through the catalog: CREATE TABLE AS SELECT installs
    // schema + declared layout + data in one statement; REPLACE TABLE
    // AS SELECT swaps the definition. The oracle replays the final
    // SELECT's closed form
    Cert("store_segment_ctas", (s, d) => withTempDir("graft-segctas") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        Tables.orders(s, d).createOrReplaceTempView("graft_ctas_orders")
        s.sql(s"CREATE TABLE $cat.db.t TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8') " +
          "AS SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
          "FROM graft_ctas_orders")
        s.sql(s"REPLACE TABLE $cat.db.t " +
          "AS SELECT o_orderkey AS k, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
          "FROM graft_ctas_orders WHERE o_orderkey % 3 = 0")
        s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
      }
    },
      // the CALL-driven lifecycle's ledger: create (empty), two 4-way
      // clustered inserts, the 2-way compact, one more insert
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents " +
        "FROM orders WHERE o_orderkey % 3 = 0 ORDER BY k")),
    // SQL DML running MERGE-ON-READ (TBLPROPERTIES rowLevelMode=mor,
    // the Delta enableDeletionVectors shape): DELETE marks positions
    // in deletion vectors, UPDATE marks old versions and appends new,
    // MERGE does both plus inserts — all through the DSv2 delta
    // framework with (_segment, _pos) as the row identity; cost ∝
    // matched rows, never matched segments. The oracle replays the
    // whole DML sequence as closed-form SQL
    Cert("store_segment_mor_sql", (s, d) => withTempDir("graft-segmor") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8', 'rowLevelMode'='mor')")
        Tables.orders(s, d).createOrReplaceTempView("graft_mor_orders")
        s.sql(s"INSERT INTO $cat.db.t " +
          "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
          "FROM graft_mor_orders")
        s.sql(s"DELETE FROM $cat.db.t WHERE k % 7 = 0")
        s.sql(s"UPDATE $cat.db.t SET cents = cents + 3 WHERE k % 5 = 0")
        s.sql(s"MERGE INTO $cat.db.t t USING " +
          "(SELECT o_orderkey AS k, CAST(-1 AS BIGINT) AS cents " +
          "FROM graft_mor_orders WHERE o_orderkey % 11 = 0) s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET cents = s.cents " +
          "WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)")
        // the third MERGE face: NOT MATCHED BY SOURCE acts on TARGET
        // rows the source lacks — the full sync shape (matched update +
        // conditional by-source delete/update in clause order), still
        // cost ∝ matched rows through the same delta write
        s.sql(s"MERGE INTO $cat.db.t t USING " +
          "(SELECT o_orderkey AS k FROM graft_mor_orders " +
          "WHERE o_orderkey % 13 = 0) s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET cents = t.cents + 1000 " +
          "WHEN NOT MATCHED BY SOURCE AND t.k % 17 = 0 THEN DELETE " +
          "WHEN NOT MATCHED BY SOURCE AND t.k % 19 = 0 THEN UPDATE SET cents = 0")
        s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
      }
    },
      // the whole MoR DML sequence replayed as closed-form SQL: k%11=0
      // always ends at -1 (matched update, or re-insert of a deleted
      // key); other k%7=0 stay deleted; other k%5=0 carry the +3 update
      ("WITH t1 AS (SELECT o_orderkey AS k, " +
        "CASE WHEN o_orderkey % 11 = 0 THEN CAST(-1 AS BIGINT) " +
        "WHEN o_orderkey % 5 = 0 THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) + 3 " +
        "ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END AS cents " +
        "FROM orders WHERE o_orderkey % 11 = 0 OR o_orderkey % 7 <> 0) " +
        // the second MERGE in closed form: matched (k%13=0) update;
        // unmatched-by-source delete (k%17=0) then update (k%19=0),
        // first clause wins
        "SELECT k, CASE WHEN k % 13 = 0 THEN cents + 1000 " +
        "WHEN k % 19 = 0 THEN CAST(0 AS BIGINT) ELSE cents END AS cents " +
        "FROM t1 WHERE k % 13 = 0 OR k % 17 <> 0 ORDER BY k")),
    // LARGE-MATCH merge-on-read MERGE (the shape the point-DML probes
    // don't cover): one MERGE updates 80% of every segment — task-side
    // bitmaps bound the commit messages (segment-rows/8 bytes per
    // touched segment, never 8 B per matched row), and the
    // morRewriteThreshold purge (default 0.5) rewrites the
    // mostly-dead segments clean right after the commit, so the table
    // never serves a scan through 80%-dead vectors. The oracle is the
    // closed form of the post-MERGE table
    Cert("store_segment_mor_bulk", (s, d) => withTempDir("graft-segmorbulk") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
          "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8', 'rowLevelMode'='mor')")
        Tables.orders(s, d).createOrReplaceTempView("graft_morbulk_orders")
        s.sql(s"INSERT INTO $cat.db.t " +
          "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
          "FROM graft_morbulk_orders")
        s.sql(s"MERGE INTO $cat.db.t t USING " +
          "(SELECT o_orderkey AS k FROM graft_morbulk_orders " +
          "WHERE o_orderkey % 5 <> 0) s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET cents = t.cents + 7")
        s.sql(s"SELECT k, cents FROM $cat.db.t ORDER BY k")
      }
    },
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) + " +
        "CASE WHEN o_orderkey % 5 <> 0 THEN 7 ELSE 0 END AS cents " +
        "FROM orders ORDER BY k")),
    // metadata-only TYPE WIDENING (ALTER COLUMN … TYPE, the
    // Iceberg/Delta type-promotion shape): int→bigint and float→double
    // land as ONE manifest commit — no segment read or rewritten at
    // any table size. Pre-widen segments decode as written and up-cast
    // at read (the manifest's widen registry keys stored types by
    // segment id); post-widen appends encode natively wide; zone maps
    // keep pruning long-typed literals over int-written bounds. The
    // oracle replays both generations in one closed form
    Cert("store_segment_widen", (s, d) => withTempDir("graft-segwiden") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, qty INT, price FLOAT, " +
          "ratio INT, money DECIMAL(10,2)) " +
          "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
        Tables.orders(s, d).createOrReplaceTempView("graft_widen_orders")
        s.sql(s"INSERT INTO $cat.db.t " +
          "SELECT o_orderkey, CAST(o_orderkey % 50 AS INT), " +
          "CAST(o_totalprice AS FLOAT), CAST(o_orderkey % 7 AS INT), " +
          "CAST(o_orderkey % 1000 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(10,2)) " +
          "FROM graft_widen_orders WHERE o_orderkey % 2 = 0")
        s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN qty TYPE BIGINT")
        s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN price TYPE DOUBLE")
        // the full widening matrix: int→double and decimal precision
        // growth (same scale) are metadata-only commits too — pre-widen
        // compact-long decimals re-container at the grown precision,
        // post-widen values may need the big-integer byte form
        s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN ratio TYPE DOUBLE")
        s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN money TYPE DECIMAL(20,2)")
        s.sql(s"INSERT INTO $cat.db.t " +
          "SELECT o_orderkey, CAST(o_orderkey % 50 AS BIGINT), " +
          "CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE), " +
          "CAST(o_orderkey % 7 AS DOUBLE), " +
          "CAST('123456789012345000.25' AS DECIMAL(20,2)) + " +
          "CAST(o_orderkey % 1000 AS DECIMAL(20,2)) " +
          "FROM graft_widen_orders WHERE o_orderkey % 2 = 1")
        // the filter's BIGINT literal prunes int-written zone maps.
        // money stays DECIMAL(20,2) IN the table (that's what exercises
        // the big-integer codec arm) but is string-canonicalized in the
        // OUTPUT: >18-digit decimals are byte-array-backed and the
        // oracle check's hash canonicalization diverges on them (r12 lesson;
        // see the oracle-authoring rules above oracleSql)
        s.sql(s"SELECT k, qty, price, ratio, CAST(money AS STRING) AS money " +
          s"FROM $cat.db.t WHERE qty >= 10 ORDER BY k")
      }
    },
      // both generations in one closed form: pre-widen rows were written
      // int/float, post-widen rows bigint/float-rounded-double — the
      // values coincide by construction, so the replay is ONE select
      ("SELECT o_orderkey AS k, CAST(o_orderkey % 50 AS BIGINT) AS qty, " +
        "CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price, " +
        "CAST(o_orderkey % 7 AS DOUBLE) AS ratio, " +
        "CAST(CASE WHEN o_orderkey % 2 = 0 " +
        "THEN CAST(o_orderkey % 1000 + 0.25 AS DECIMAL(20,2)) " +
        "ELSE CAST(123456789012345000.25 + (o_orderkey % 1000) AS DECIMAL(20,2)) " +
        "END AS VARCHAR) AS money " +
        "FROM orders WHERE o_orderkey % 50 >= 10 ORDER BY k")),
    // the FULL TYPE SURFACE on the native format: BINARY (the
    // multimodal blob column — bytes round-trip through the segment
    // codec and decode back to the exact source text), DECIMAL exact
    // money (with zone maps: the score predicate prunes on per-segment
    // BigDecimal bounds), and array<string> tokenized text (columnar
    // child-vector decode, same as the embeddings arrays). At 100 TB
    // these are the three columns an LLM training-data table adds to
    // the relational core: raw media bytes, exact accounting, tokens
    // ARRAY<STRUCT> on the native format — the reference's own order
    // items[] shape (README.md:269-274; array of (product_id,
    // quantity) records per src/ingest_order/app.py:85-90) and every
    // per-doc span/annotation list in an LLM pipeline. Items are
    // collected per order, element-sorted for determinism, stored on
    // the format, then re-derived: the closed-form oracle recomputes
    // size / lexicographic-first element / quantity total straight
    // from lineitem, so any corruption of element bytes, order, or
    // per-field presence markers shows up in the aggregates
    // NDV STATISTICS from the manifest (SegmentNdv): declared columns
    // collect per-segment KMV sketches at write time; planning merges
    // them to a table distinctCount for the optimizer's column stats
    // — cost-based join reordering at 100 TB without an ANALYZE scan.
    // The sketch hash is the repo's portable md5 construction, so the
    // estimate is a deterministic function of the data the oracle
    // replays bit-for-bit (doc_id saturates k=256 → the estimator arm;
    // lang stays under k → the exact arm)
    Cert("store_segment_ndv", (s, d) => withTempDir("graft-segndv") { base =>
      val dir = s"$base/t"
      // a DATE column rides along (r14): 900 distinct days — past k,
      // the estimator arm — whose ISO yyyy-MM-dd canonical DuckDB
      // replays byte-for-byte via CAST(d AS VARCHAR). The estimates
      // are read from the TABLE-LEVEL sketch the commit pre-merged
      // into the manifest (planning-path O(k)); merged-at-commit ≡
      // merge-of-per-segment is spec-pinned (SegmentSourceSpec), so
      // the oracle's from-scratch KMV replay certifies both forms.
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
          date_add(to_date(lit("2020-01-01")),
            (col("doc_id") % 900).cast("int")).as("d"),
          // DECIMAL NDV (r14): exact-money group keys; 500 distinct
          // scale-2 values past k — the estimator arm on the
          // scale-padded plain canonical ("123.25")
          expr("CAST(doc_id % 500 AS DECIMAL(12,2)) + " +
            "CAST(0.25 AS DECIMAL(3,2))").as("money"),
          // TIMESTAMP NDV (r15): the canonical is the EPOCH-MICROS
          // integer string — the one timestamp rendering with no
          // session-timezone or sub-second trap, exact in both engines
          timestamp_micros(col("doc_id") * 1000000L +
            (col("doc_id") % 777) * 1000L).as("ts"),
          // STRUCT-FIELD NDV (r15): dotted declarations sketch struct
          // fields via the same child collectors zone maps/blooms use;
          // 300 distinct > k exercises the estimator arm on a nested key
          struct((col("doc_id") % 300).cast("int").as("b")).as("meta"))
        .write.format("graft-segment")
        .option("ndvFor", "doc_id,lang,d,money,ts,meta.b")
        .option("clusterBy", "doc_id").option("numPartitions", "4")
        .mode("append").save(dir)
      val fs2 = graft.sources.segment.SegmentLog.fs(dir,
        s.sessionState.newHadoopConf())
      val m = graft.sources.segment.SegmentLog.read(fs2, dir).get
      val rows = Seq("d", "doc_id", "lang", "meta.b", "money", "ts").map { c =>
        val merged = graft.sources.segment.SegmentNdv.decode(m.ndvMerged(c))
        (c, BigDecimal(graft.sources.segment.SegmentNdv.estimateMerged(merged))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      import s.implicits._
      rows.toDF("col_name", "n_est").orderBy("col_name")
    },
      // the manifest-merged KMV ≡ the global min-k of the distinct
      // portable hashes (min-k is mergeable), replayed directly
      ("WITH hd AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rd AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hd), " +
        "ed AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rd WHERE rn <= 256), " +
        "hl AS (SELECT DISTINCT CAST('0x' || substr(md5(lang), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE lang IS NOT NULL), " +
        "rl AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hl), " +
        "el AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rl WHERE rn <= 256), " +
        "hdt AS (SELECT DISTINCT CAST('0x' || substr(md5(" +
        "CAST(DATE '2020-01-01' + CAST(doc_id % 900 AS INT) AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rdt AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hdt), " +
        "edt AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rdt WHERE rn <= 256), " +
        "hmn AS (SELECT DISTINCT CAST('0x' || substr(md5(" +
        "CAST(CAST(doc_id % 500 AS DECIMAL(12,2)) + CAST(0.25 AS DECIMAL(3,2)) AS VARCHAR)" +
        "), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rmn AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hmn), " +
        "emn AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rmn WHERE rn <= 256), " +
        // TIMESTAMP: the epoch-micros canonical replays as the same
        // integer arithmetic that built the column — zone-free
        "hts AS (SELECT DISTINCT CAST('0x' || substr(md5(" +
        "CAST(doc_id * 1000000 + (doc_id % 777) * 1000 AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rts AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hts), " +
        "ets AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rts WHERE rn <= 256), " +
        // struct field meta.b: the child's int canonical, same hash
        "hmb AS (SELECT DISTINCT CAST('0x' || substr(md5(" +
        "CAST(CAST(doc_id % 300 AS INT) AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM documents WHERE doc_id IS NOT NULL), " +
        "rmb AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hmb), " +
        "emb AS (SELECT count(*) AS n_sk, max(hv) AS h_k FROM rmb WHERE rn <= 256) " +
        "SELECT col_name, n_est FROM (" +
        "SELECT 'doc_id' AS col_name, round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) AS n_est FROM ed " +
        "UNION ALL SELECT 'lang', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM el " +
        "UNION ALL SELECT 'd', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM edt " +
        "UNION ALL SELECT 'money', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM emn " +
        "UNION ALL SELECT 'ts', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM ets " +
        "UNION ALL SELECT 'meta.b', round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
        "ELSE 255 * 4294967296.0 / h_k END, 4) FROM emb) ORDER BY col_name")),
    // GENERATED columns (the Delta GENERATED ALWAYS AS shape): the
    // declaration is ONE validated manifest property; the writer
    // computes omitted/NULL slots and refuses diverging explicit
    // values at the shared chokepoint — derived columns at 100 TB are
    // a projection per written row, never a backfill pass. Generation
    // 1 inserts OMIT the derived columns (computed); generation 2
    // provides them explicitly correct (validated, kept) — the oracle
    // replays the expression over the whole source either way
    Cert("store_segment_generated", (s, d) => withTempDir("graft-seggen") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, price DOUBLE, " +
          "cents BIGINT GENERATED ALWAYS AS (CAST(round(price * 100, 0) AS BIGINT)), " +
          "tier STRING GENERATED ALWAYS AS " +
          "(CASE WHEN price >= 1000 THEN 'high' ELSE 'low' END)) " +
          "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
        Tables.orders(s, d).createOrReplaceTempView("graft_gen_orders")
        s.sql(s"INSERT INTO $cat.db.t (k, price) " +
          "SELECT o_orderkey, o_totalprice FROM graft_gen_orders " +
          "WHERE o_orderkey % 2 = 0")
        s.sql(s"INSERT INTO $cat.db.t " +
          "SELECT o_orderkey, o_totalprice, " +
          "CAST(round(o_totalprice * 100, 0) AS BIGINT), " +
          "CASE WHEN o_totalprice >= 1000 THEN 'high' ELSE 'low' END " +
          "FROM graft_gen_orders WHERE o_orderkey % 2 = 1")
        s.sql(s"SELECT k, price, cents, tier FROM $cat.db.t ORDER BY k")
      }
    },
      // both generations replay as the expression over the whole source
      ("SELECT o_orderkey AS k, o_totalprice AS price, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, " +
        "CASE WHEN o_totalprice >= 1000 THEN 'high' ELSE 'low' END AS tier " +
        "FROM orders ORDER BY k")),
    // VARIANT on the native format: the semi-structured props column
    // parses ONCE (parse_json, map-only), lands on the format as the
    // binary (value, metadata) pair it already is — no schema
    // inference, no zone maps (sound default) — and probes by path
    // straight off the segment bytes without re-tokenizing text. The
    // probes and oracle are the events_props_variant shape, so this
    // certificate isolates exactly the storage hop
    Cert("store_segment_variant", (s, d) => withTempDir("graft-segvar") { base =>
      val dir = s"$base/t"
      val j = concat(lit("{\"orig\": "), col("props"),
        lit(", \"tag\": \"t"), (col("event_id") % 3).cast("string"),
        lit("\", \"arr\": ["), (col("event_id") % 5).cast("string"),
        lit(","), (col("event_id") % 7).cast("string"), lit("]}"))
      Tables.events(s, d)
        .select(col("event_id"), parse_json(j).as("v"))
        .write.format("graft-segment")
        .option("clusterBy", "event_id").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("event_id"),
          variant_get(col("v"), "$.orig.k", "bigint").as("k"),
          variant_get(col("v"), "$.tag", "string").as("tag"),
          variant_get(col("v"), "$.arr[1]", "bigint").as("arr1"),
          coalesce(try_variant_get(col("v"), "$.missing", "bigint"), lit(-1L)).as("missing"))
        .orderBy(col("event_id"))
    },
      // the storage hop is transparent: same replay as the parquet-side
      // variant certificate
      ("WITH j AS (SELECT event_id, '{\"orig\": ' || props || ', \"tag\": \"t' || " +
        "(event_id % 3) || '\", \"arr\": [' || (event_id % 5) || ',' || (event_id % 7) || ']}' AS js " +
        "FROM events) " +
        "SELECT event_id, CAST(json_extract(js, '$.orig.k') AS BIGINT) AS k, " +
        "json_extract_string(js, '$.tag') AS tag, " +
        "CAST(json_extract(js, '$.arr[1]') AS BIGINT) AS arr1, " +
        "CAST(-1 AS BIGINT) AS missing " +
        "FROM j ORDER BY event_id")),
    Cert("store_segment_items", (s, d) => withTempDir("graft-segitems") { base =>
      val dir = s"$base/t"
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("k"),
          col("l_partkey").as("product_id"),
          col("l_quantity").cast("int").as("quantity"))
        .groupBy("k")
        .agg(array_sort(collect_list(
          struct(col("product_id"), col("quantity")))).as("items"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("k"),
          size(col("items")).as("n_items"),
          col("items")(0).getField("product_id").cast("long").as("first_pid"),
          expr("CAST(aggregate(items, 0L, (acc, x) -> acc + x.quantity) AS BIGINT)")
            .as("total_qty"))
        .orderBy("k")
    },
      // items[0].product_id after array_sort = the lexicographic-first
      // struct's product_id = min(l_partkey) per order (product_id is
      // the leading sort field)
      ("SELECT l_orderkey AS k, CAST(count(*) AS INT) AS n_items, " +
        "CAST(min(l_partkey) AS BIGINT) AS first_pid, " +
        "CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS total_qty " +
        "FROM lineitem GROUP BY l_orderkey ORDER BY k")),
    // the SPAN-ANNOTATION shape on the native format (r14):
    // array<struct<s, e, tokens array<int>>> — per-doc span lists
    // whose elements carry their own token-offset arrays, the
    // LLM-pipeline annotation column that used to hit the one-level
    // nesting refusal. Spans are synthesized CLOSED-FORM from doc_id
    // (span i of m = doc_id%3+1 spans: s = 10i, e = 10i + doc_id%7,
    // tokens = [i .. i + doc_id%4]), stored, read back, and re-derived
    // as scalars — so element order, per-field presence bytes, and the
    // nested array bytes all land in the hashes; DuckDB replays the
    // arithmetic without ever building the nested value
    Cert("store_segment_spans", (s, d) => withTempDir("graft-segspans") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id").as("k"),
          expr("transform(sequence(0, CAST(doc_id % 3 AS INT)), i -> " +
            "named_struct('s', CAST(i * 10 AS INT), " +
            "'e', CAST(i * 10 + doc_id % 7 AS INT), " +
            "'tokens', transform(sequence(i, i + CAST(doc_id % 4 AS INT)), " +
            "x -> CAST(x AS INT))))").as("spans"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("k"),
          size(col("spans")).as("n_spans"),
          col("spans")(0).getField("e").as("first_e"),
          expr("CAST(aggregate(flatten(spans.tokens), 0L, (a, x) -> a + x) " +
            "AS BIGINT)").as("tok_total"))
        .orderBy("k")
    },
      // the span shape replays closed-form: n_spans = m+1, first_e =
      // doc_id%7, tok_total = sum over spans i=0..m of sum(i..i+q) with
      // m = doc_id%3, q = doc_id%4 — integer division is exact (m(m+1)
      // and q(q+1) are even), // keeps DuckDB in the integer domain
      ("SELECT doc_id AS k, CAST(doc_id % 3 + 1 AS INT) AS n_spans, " +
        "CAST(doc_id % 7 AS INT) AS first_e, " +
        "CAST((doc_id % 4 + 1) * ((doc_id % 3) * (doc_id % 3 + 1) // 2) + " +
        "(doc_id % 3 + 1) * ((doc_id % 4) * (doc_id % 4 + 1) // 2) AS BIGINT) AS tok_total " +
        "FROM documents ORDER BY k")),
    // map<string, struct-of-atomics> on the native format (r14): the
    // tag → (count, weight, label) metadata shape. Entries synthesized
    // closed-form from doc_id (key tj for j = 0..doc_id%3; n =
    // doc_id%100 + j, w = (doc_id%9)/2 + j, lbl = 'lj' on even j else
    // NULL — the per-FIELD presence byte inside a map value), stored,
    // read back, re-derived as scalars: key count, a point lookup's
    // int field, the value-sum over w (every term a multiple of 0.5 —
    // exact in binary, order-free), and a lookup that is present-
    // with-NULL vs absent depending on doc_id%3. DuckDB replays the
    // arithmetic without building the map
    Cert("store_segment_map_struct", (s, d) => withTempDir("graft-segmapst") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id").as("k"),
          expr("map_from_entries(transform(sequence(0, CAST(doc_id % 3 AS INT)), " +
            "j -> struct(concat('t', CAST(j AS STRING)), " +
            "named_struct('n', CAST(doc_id % 100 + j AS INT), " +
            "'w', CAST((doc_id % 9) * 0.5 + j AS DOUBLE), " +
            "'lbl', CASE WHEN j % 2 = 1 THEN CAST(NULL AS STRING) " +
            "ELSE concat('l', CAST(j AS STRING)) END))))").as("m"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("k"),
          size(col("m")).as("n_keys"),
          element_at(col("m"), "t0").getField("n").as("t0_n"),
          expr("CAST(aggregate(map_values(m), 0D, (a, v) -> a + v.w) AS DOUBLE)")
            .as("w_sum"),
          element_at(col("m"), "t2").getField("lbl").as("lbl2"))
        .orderBy("k")
    },
      // the map<string, struct> shape replays closed-form: w_sum =
      // Σ_{j=0..m} ((doc_id%9)/2 + j) = (m+1)(doc_id%9)/2 + m(m+1)/2
      // with m = doc_id%3 — 0.5-granular terms are exact doubles, and
      // // keeps the triangular term in the integer domain
      ("SELECT doc_id AS k, CAST(doc_id % 3 + 1 AS INT) AS n_keys, " +
        "CAST(doc_id % 100 AS INT) AS t0_n, " +
        "CAST((doc_id % 3 + 1) * (doc_id % 9) * 0.5 + " +
        "((doc_id % 3) * (doc_id % 3 + 1) // 2) AS DOUBLE) AS w_sum, " +
        "CASE WHEN doc_id % 3 >= 2 THEN 'l2' END AS lbl2 " +
        "FROM documents ORDER BY k")),
    // the FULL nested-type algebra on the native format (r14):
    // array<array<int>> grids, struct-in-struct records with string
    // lists two levels down, and map values carrying arrays of structs
    // that carry long arrays — every composition the r13 refusal list
    // named, synthesized closed-form from doc_id, stored, read back,
    // re-derived as scalars so element order, presence bytes, and
    // every nesting level's length prefixes land in the hashes; DuckDB
    // replays pure arithmetic
    Cert("store_segment_deep", (s, d) => withTempDir("graft-segdeep") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id").as("k"),
          expr("named_struct('inner', named_struct(" +
            "'x', CAST(doc_id % 7 AS INT), " +
            "'ys', transform(sequence(0, CAST(doc_id % 2 AS INT)), " +
            "j -> concat('y', CAST(j AS STRING)))), " +
            "'w', CAST(doc_id % 9 AS DOUBLE) * 0.5)").as("rec"),
          expr("transform(sequence(0, CAST(doc_id % 2 AS INT)), i -> " +
            "transform(sequence(0, i), j -> " +
            "CAST(i * 10 + j + doc_id % 5 AS INT)))").as("grid"),
          expr("map('g', transform(sequence(0, CAST(doc_id % 2 AS INT)), " +
            "i -> named_struct('a', CAST(doc_id % 11 + i AS INT), " +
            "'zs', sequence(CAST(0 AS BIGINT), CAST(doc_id % 3 AS BIGINT)))))")
            .as("keyed"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .select(col("k"),
          col("rec").getField("inner").getField("x").as("inner_x"),
          size(col("rec").getField("inner").getField("ys")).as("n_ys"),
          col("rec").getField("w").as("w"),
          expr("CAST(aggregate(flatten(grid), 0L, (a, x) -> a + x) AS BIGINT)")
            .as("grid_sum"),
          expr("CAST(aggregate(keyed['g'], 0L, " +
            "(a, e) -> a + e.a + size(e.zs)) AS BIGINT)").as("keyed_sum"))
        .orderBy("k")
    },
      // the deep shape replays as pure arithmetic: with m = doc_id%2,
      // q5 = doc_id%5, grid_sum = Σ_{i=0..m} Σ_{j=0..i} (10i + j + q5)
      // = q5 (m=0) or 3·q5 + 21 (m=1); keyed_sum = Σ_{i=0..m}
      // (doc_id%11 + i + (doc_id%3 + 1)) — // keeps the triangular term
      // integral
      ("SELECT doc_id AS k, CAST(doc_id % 7 AS INT) AS inner_x, " +
        "CAST(doc_id % 2 + 1 AS INT) AS n_ys, " +
        "CAST((doc_id % 9) * 0.5 AS DOUBLE) AS w, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 " +
        "ELSE 3 * (doc_id % 5) + 21 END AS BIGINT) AS grid_sum, " +
        "CAST((doc_id % 2 + 1) * (doc_id % 11) + " +
        "((doc_id % 2) * (doc_id % 2 + 1) // 2) + " +
        "(doc_id % 2 + 1) * (doc_id % 3 + 1) AS BIGINT) AS keyed_sum " +
        "FROM documents ORDER BY k")),
    Cert("store_segment_typed", (s, d) => withTempDir("graft-segtyped") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        expr("CAST(n_chars + 0.25 AS DECIMAL(12,2))").as("score"),
        split(col("text"), " ").as("tokens"))
        .write.format("graft-segment")
        .option("clusterBy", "doc_id").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("score") >= expr("CAST(100.25 AS DECIMAL(12,2))"))
        .select(
          col("doc_id"),
          decode(col("payload"), "UTF-8").as("text_back"),
          col("score"),
          size(col("tokens")).as("n_tokens"),
          element_at(col("tokens"), 1).as("first_token"))
        .orderBy(col("doc_id"))
    },
      ("SELECT doc_id, text AS text_back, " +
        "CAST(n_chars + 0.25 AS DECIMAL(12,2)) AS score, " +
        "CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "string_split(text, ' ')[1] AS first_token " +
        "FROM documents WHERE n_chars + 0.25 >= 100.25 ORDER BY doc_id")),
    // CLONE (the Delta CLONE shape): shallow = ONE manifest write
    // referencing the source's files absolutely (a petabyte "copy" in
    // milliseconds — the dev/test sandbox tier), deep = an
    // executor-parallel full copy. Both are SNAPSHOT-isolated: the
    // source is mutated after cloning and the clones must keep
    // serving the clone-time content (that is what the oracle checks)
    Cert("store_segment_clone", (s, d) => withTempDir("graft-segclone") { base =>
      val src = s"$base/src"
      Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(src)
      graft.sources.segment.GraftMaintenance.clone(s, src, s"$base/shallow",
        deep = false)
      graft.sources.segment.GraftMaintenance.clone(s, src, s"$base/deep",
        deep = true)
      // mutate the SOURCE after cloning: deletes must not leak in
      graft.sources.segment.GraftMaintenance.deleteMark(s, src,
        col("k") % 2 === 0)
      s.read.format("graft-segment").load(s"$base/shallow")
        .select(lit("shallow").as("clone_kind"), col("k"), col("cents"))
        .unionAll(s.read.format("graft-segment").load(s"$base/deep")
          .select(lit("deep").as("clone_kind"), col("k"), col("cents")))
        .orderBy(col("clone_kind"), col("k"))
    },
      ("WITH src AS (SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders) " +
        "SELECT clone_kind, k, cents FROM (" +
        "SELECT 'shallow' AS clone_kind, k, cents FROM src " +
        "UNION ALL SELECT 'deep' AS clone_kind, k, cents FROM src) " +
        "ORDER BY clone_kind, k")),
    // EXACT FILTER PUSHDOWN (opt-in `exactFilters=true`, batch-only):
    // a filter the zone maps DECIDE for every segment is claimed as
    // fully pushed — no row re-evaluation, and metadata-only
    // aggregates engage UNDER the filter (LocalScan, zero tasks). At
    // 100 TB this answers `count(*) WHERE day >= x` on a day-clustered
    // table from the manifest alone. The certificate uses a predicate
    // decided independently of shuffle boundaries (all rows match);
    // the boundary-cut shape is spec-certified
    Cert("store_segment_exact_meta", (s, d) => withTempDir("graft-segexact") { base =>
      val dir = s"$base/t"
      Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
        .write.format("graft-segment")
        .option("clusterBy", "k").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").option("exactFilters", "true").load(dir)
        .filter(col("k") >= 1L)
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    },
      ("SELECT count(*) AS n, min(o_orderkey) AS min_k, max(o_orderkey) AS max_k " +
        "FROM orders WHERE o_orderkey >= 1")),
    // BODY COMPRESSION on the native format (header v2 = one deflate
    // stream after the raw 12-byte header): text tables shrink ~3-4×,
    // which at 100 TB is the difference between scanning 100 TB and
    // 30 TB of disk; zone maps, blooms, dvs, and pruning live in the
    // manifest and are untouched. Declared per table or per write;
    // readers dispatch on each segment's own header. The oracle is the
    // plain projection — compression must be invisible to answers
    Cert("store_segment_compressed", (s, d) => withTempDir("graft-segcomp") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).select(col("doc_id"), col("text"),
          col("lang"), col("n_chars"))
        .write.format("graft-segment")
        .option("clusterBy", "doc_id").option("numPartitions", "8")
        .option("compress", "deflate")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .filter(col("doc_id") % 3 === 0)
        .orderBy(col("doc_id"))
    },
      ("SELECT doc_id, text, lang, n_chars FROM documents " +
        "WHERE doc_id % 3 = 0 ORDER BY doc_id")),
    // NESTED + small-integer types on the native format: TINYINT /
    // SMALLINT (full zone-map/bloom members of the integer family),
    // STRUCT of atomics (vectorized positional child decode, nested
    // column pruning skips unread fields byte-exactly), and MAP of
    // atomics (lockstep key/value child appends). The multimodal
    // sidecar shape: typed metadata records and tag→count maps next
    // to the payload. Output is flat so DuckDB replays it closed-form
    Cert("store_segment_nested", (s, d) => withTempDir("graft-segnested") { base =>
      val dir = s"$base/t"
      Tables.documents(s, d).selectExpr(
        "doc_id",
        "CAST(doc_id % 100 AS TINYINT) AS y",
        "CAST(n_chars % 10000 AS SMALLINT) AS w",
        "named_struct('lang', lang, 'n', CAST(n_chars AS INT)) AS meta",
        "map(lang, n_chars, 'all', n_chars) AS counts")
        .write.format("graft-segment")
        .option("clusterBy", "doc_id").option("numPartitions", "8")
        .mode("append").save(dir)
      s.read.format("graft-segment").load(dir)
        .selectExpr("doc_id", "y", "w", "meta.lang AS lang", "meta.n AS n",
          "element_at(counts, 'all') AS total")
        .orderBy(col("doc_id"))
    },
      ("SELECT doc_id, CAST(doc_id % 100 AS TINYINT) AS y, " +
        "CAST(n_chars % 10000 AS SMALLINT) AS w, " +
        "lang, CAST(n_chars AS INT) AS n, n_chars AS total " +
        "FROM documents ORDER BY doc_id")),
    // DEFAULT column values (SUPPORT_COLUMN_DEFAULT_VALUE): CREATE/ADD
    // COLUMN defaults are ONE metadata-only manifest commit — rows
    // written BEFORE the column existed read the folded EXISTS_DEFAULT
    // constant (no segment rewritten at any table size), INSERTs that
    // omit the column take CURRENT_DEFAULT, and SET DEFAULT repaints
    // the future only (the SQL-standard split). The oracle replays the
    // generations in one closed form keyed by the insert boundaries
    Cert("store_segment_defaults", (s, d) => withTempDir("graft-segdef") { base =>
      withCatalog(s, s"$base/wh") { cat =>
        s.sql(s"CREATE NAMESPACE $cat.db")
        s.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT, " +
          "status STRING DEFAULT 'PENDING') " +
          "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
        Tables.orders(s, d).createOrReplaceTempView("graft_def_orders")
        // generation 1: status omitted -> CURRENT default fills 'PENDING'
        s.sql(s"INSERT INTO $cat.db.t (k, cents) " +
          "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
          "FROM graft_def_orders WHERE o_orderkey % 3 = 0")
        // ADD COLUMN with DEFAULT: generation-1 rows read 7 with no rewrite
        s.sql(s"ALTER TABLE $cat.db.t ADD COLUMN retries BIGINT DEFAULT 7")
        // SET DEFAULT is future-only: later omitted statuses say 'QUEUED'
        s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN status SET DEFAULT 'QUEUED'")
        // generation 2: retries explicit, status defaulted to 'QUEUED'
        s.sql(s"INSERT INTO $cat.db.t (k, cents, retries) " +
          "SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT), " +
          "o_orderkey % 5 FROM graft_def_orders WHERE o_orderkey % 3 = 1")
        s.sql(s"SELECT k, cents, status, retries FROM $cat.db.t ORDER BY k")
      }
    },
      // generation 1 (k%3=0): status filled by the CREATE-time default,
      // retries by the ADD-time existence default; generation 2 (k%3=1):
      // status by the post-SET default, retries explicit
      ("SELECT o_orderkey AS k, " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN 'PENDING' ELSE 'QUEUED' END AS status, " +
        "CASE WHEN o_orderkey % 3 = 0 THEN CAST(7 AS BIGINT) " +
        "ELSE o_orderkey % 5 END AS retries " +
        "FROM orders WHERE o_orderkey % 3 IN (0, 1) ORDER BY k"))
  )

  /** Per-value totals off a graft-segment table's merged STRING map —
    * the zero-scan strata/mixture input shared by the mixture
    * certificates; fails diagnosably when the cap doctrine poisoned
    * the declared column (a value past the 64-byte cap or over the
    * distinct cap makes the statistic absent, never approximate). */
  private[certs] def manifestStrTotals(s: SparkSession, dir: String,
      column: String): Map[String, Long] = {
    val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
    val m = graft.sources.segment.SegmentLog.logicalView(
      graft.sources.segment.SegmentLog.read(fs, dir).get)
    graft.sources.segment.SegmentHistogram
      .decodeStr(m.shistMerged.getOrElse(column,
        throw new IllegalStateException(
          s"no merged string map for '$column' — the cap doctrine " +
            "poisoned the statistic; this certificate requires the " +
            "bounded domain its data declares")))
      .map { case (v, n) => v.toString -> n }.toMap
  }

  /** The synthetic CDC ops log shared by the batch apply, the
    * streaming bucketed consumer, and the time-travel read: insert
    * all, update k%3, delete k%7, re-insert k%21 — so tombstone-then-
    * reinsert is exercised and versions 2/3/4 are pairwise distinct. */
  private[certs] def cdcLog(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
    o.select(col("k"), lit(1L).as("seq"), lit("I").as("op"), col("cents"))
      .union(o.filter(col("k") % 3 === 0).select(col("k"), lit(2L).as("seq"),
        lit("U").as("op"), (col("cents") + 100L).as("cents")))
      .union(o.filter(col("k") % 7 === 0).select(col("k"), lit(3L).as("seq"),
        lit("D").as("op"), lit(null).cast("long").as("cents")))
      .union(o.filter(col("k") % 21 === 0).select(col("k"), lit(4L).as("seq"),
        lit("I").as("op"), (col("cents") + 55L).as("cents")))
  }

  /** CDC ground truth: newest op per key over the whole log, deletes
    * tombstoned — shared by the batch apply (store_cdc_apply) and the
    * streaming consumer (stream_cdc_apply). */
  private val cdcLogCtes =
    "WITH o AS (SELECT o_orderkey AS k, CAST(round(o_totalprice*100.0, 0) AS BIGINT) AS cents FROM orders), " +
      "log AS (SELECT k, CAST(1 AS BIGINT) AS seq, 'I' AS op, cents FROM o " +
      "UNION ALL SELECT k, 2, 'U', cents + 100 FROM o WHERE k % 3 = 0 " +
      "UNION ALL SELECT k, 3, 'D', NULL FROM o WHERE k % 7 = 0 " +
      "UNION ALL SELECT k, 4, 'I', cents + 55 FROM o WHERE k % 21 = 0)"

  /** Newest-op-wins collapse of the shared log, optionally cut at a
    * version — the oracle always replays the FULL prefix, so the
    * Spark side's checkpoint-plus-tail read is certified against
    * replay semantics. */
  private def cdcStateSql(versionCut: String) =
    s"$cdcLogCtes, " +
      s"r AS (SELECT k, seq, op, cents, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM log$versionCut) " +
      "SELECT k AS o_orderkey, seq, cents FROM r WHERE rn = 1 AND op <> 'D' " +
      "ORDER BY o_orderkey"

  private[certs] val cdcApplySql = cdcStateSql("")

  /** The join-view full rebuild the three-arm delta must reconstruct. */
  private val incrJoinSql =
    "SELECT o_custkey AS custkey, o_orderkey, " +
      "CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS cents, c_mktsegment " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "ORDER BY o_orderkey"

  /** One-shot per-customer aggregate ground truth — shared by the
    * batch incremental-merge path (store_incr_agg) and the streaming
    * state fold (stream_incr_agg): both must land on exactly this
    * view. */
  private[certs] val incrAggSql =
    "SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(cents) AS BIGINT) AS sum_cents, min(cents) AS min_cents, " +
      "max(cents) AS max_cents " +
      "FROM (SELECT o_custkey, CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS cents FROM orders) " +
      "GROUP BY o_custkey ORDER BY o_custkey"

  /** The change feed's closed form, commit by commit, shared by the
    * batch (store_segment_changes) and streaming (stream_segment_cdf)
    * consumption modes: v1 appends k%3=1; v2 (the deleteRows rewrite)
    * deletes everything live and re-inserts survivors; v3 (compact) is
    * absent; v4 appends k%3=2. Keys unique per (version, change). */
  private[certs] val segmentChangesOracleSql: String =
    "WITH src AS (SELECT o_orderkey AS k, " +
      "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders) " +
      "SELECT * FROM (" +
      "SELECT k, cents, 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version " +
      "FROM src WHERE k % 3 = 1 " +
      "UNION ALL SELECT k, cents, 'delete', 2 FROM src WHERE k % 3 IN (0, 1) " +
      "UNION ALL SELECT k, cents, 'insert', 2 FROM src WHERE k % 3 IN (0, 1) AND NOT k % 5 = 0 " +
      "UNION ALL SELECT k, cents, 'insert', 4 FROM src WHERE k % 3 = 2) " +
      "ORDER BY _commit_version, _change_type, k"

  /** Frozen-routing incremental index state probed after additions —
    * shared by the batch append (store_ann_incremental) and the
    * streaming ingest (stream_ann_topk), which must land on the
    * identical final index. */
  private[certs] lazy val annIncrementalSql: String =
    s"WITH $ivfSql, $pqSql, " +
        "aad AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_prepend(CAST(CAST(embedding[1] * 1.01 AS FLOAT) AS DOUBLE), CAST(embedding AS DOUBLE[])[2:]) AS ve " +
        "FROM embeddings WHERE vec_id % 5 = 0), " +
        s"aas AS (SELECT vec_id, centroid_id FROM (SELECT a.vec_id, c.centroid_id, ${cosSql("a.ve", "c.ce")} AS sim " +
        "FROM aad a CROSS JOIN c1 c) " +
        "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1), " +
        "a2u AS (SELECT vec_id, centroid_id FROM a2 UNION ALL SELECT vec_id, centroid_id FROM aas), " +
        "psubA AS (SELECT vec_id, m, ve[m*dsub+1:(m+1)*dsub] AS sub " +
        "FROM aad CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) CROSS JOIN pd), " +
        s"paA AS (SELECT vec_id, m, code FROM (SELECT s.vec_id, s.m, c.code, ${cosSql("s.sub", "c.ce")} AS sim " +
        "FROM psubA s JOIN pc1 c ON s.m = c.m) " +
        "QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY sim DESC, code) = 1), " +
        "pcu AS (SELECT vec_id, m, code FROM pcodes UNION ALL SELECT vec_id, m, code FROM paA), " +
        "iq2 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        s"ir2 AS (SELECT q_id, centroid_id FROM (SELECT q_id, centroid_id, ${cosSql("qe", "ce")} AS csim " +
        "FROM iq2 CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        "icand2 AS (SELECT ir2.q_id, a2u.vec_id FROM ir2 JOIN a2u USING (centroid_id) " +
        "WHERE a2u.vec_id <> ir2.q_id), " +
        "pq2b AS (SELECT vec_id AS q_id, m, sub AS qsub FROM psub WHERE vec_id < 5), " +
        "ptab2b AS (SELECT q_id, pq2b.m, c.code, " +
        "list_sum(list_transform(range(1, len(qsub)+1), i -> qsub[i]*c.ce[i])) AS part " +
        "FROM pq2b JOIN pc1 c ON pq2b.m = c.m), " +
        "psc2b AS (SELECT cd.q_id, cd.vec_id, " +
        "round(max(CASE WHEN k.m = 0 THEN t.part END) + max(CASE WHEN k.m = 1 THEN t.part END) + " +
        "max(CASE WHEN k.m = 2 THEN t.part END) + max(CASE WHEN k.m = 3 THEN t.part END), 4) AS score " +
        "FROM icand2 cd JOIN pcu k ON cd.vec_id = k.vec_id " +
        "JOIN ptab2b t ON t.q_id = cd.q_id AND t.m = k.m AND t.code = k.code " +
        "GROUP BY cd.q_id, cd.vec_id) " +
        "SELECT q_id, vec_id, score, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INT) AS rank " +
        "FROM psc2b QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) <= 10 " +
        "ORDER BY q_id, rank"
}
