package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.certs.CheckoutCerts.{orderVerdicts, validSql}
import graft.certs.DedupCerts.fiveGramSql
import graft.certs.EmbCerts.embQueries
import graft.certs.Fixtures.{annIndexFor, copyDirInto, stageOrdered, withTempDir}
import graft.certs.StoreCerts.{annIncrementalSql, cdcApplySql, cdcLog, incrAggSql,
  manifestStrTotals, segmentChangesOracleSql}
import graft.certs.TextCerts.{cmsTopkSql, hllVocabSql, kmvVocabSql, quantileSketchSql,
  shingleSql}
import graft.ingest.Ingest
import graft.ops.{Sampling, TextOps}
import graft.process.Checkout
import graft.sources.Tables
import graft.streaming.Drain

/** Structured Streaming certificates: each runs its stream to completion in
  * a temp dir and reads the sink back as a deterministic frame. */
object StreamCerts {

  lazy val certs: Seq[Cert] = Seq(
    // the CMS twin of stream_hll_vocab: cell-wise SUM is associative
    // and exact in integers, so the micro-batch-folded counter table
    // IS the one-shot sketch and the point estimates are identical —
    // together the pair certifies that both mergeable-sketch state
    // disciplines (max-registers, sum-counters) survive micro-batching
    Cert("stream_cms_topk", (s, d) => withTempDir("graft-cms-stream") { base =>
      val docs = Tables.documents(s, d)
      val slim = docs.select(col("doc_id"), col("text"))
      // staged concurrently, arrival order pinned by explicit mtimes
      // (same order the former serial writes produced) — stageOrdered
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        slim.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SegmentStateIngest.run(s, slim.schema,
        s"$base/in", s"$base/state", s"$base/ckpt") { (prior, batch) =>
        val sk = graft.ops.Cms.sketch(batch, 4, 1024)
        prior.map(_.unionByName(sk).groupBy(col("row"), col("bucket"))
          .agg(sum(col("cnt")).as("cnt"))).getOrElse(sk)
      }
      graft.ops.Cms.estimate(
        graft.streaming.SegmentStateIngest.finalState(s, s"$base/state"),
        TextOps.termFrequency(docs, 20), 4, 1024)
    }.orderBy(col("freq").desc, col("word")),
      // micro-batch-summed counters are the one-shot sketch exactly
      cmsTopkSql),
    // the KMV sketch as STREAMING state: per-batch bottom-k frames fold
    // into the state table by merge (union + re-min-k) — ≤ k rows
    // per group forever, and min-k associativity makes the final
    // estimate BIT-IDENTICAL to the one-shot sketch: text_kmv_vocab's
    // oracle unchanged
    Cert("stream_kmv_vocab", (s, d) => withTempDir("graft-kmv-stream") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SegmentStateIngest.run(s, docs.schema,
        s"$base/in", s"$base/state", s"$base/ckpt") { (prior, batch) =>
        val sk = graft.ops.Kmv.sketch(
          batch.select(col("lang"), explode(TextOps.tokens(col("text"))).as("word")),
          Seq("lang"), col("word"), 256)
        prior.map(p => graft.ops.Kmv.merge(Seq(p, sk), Seq("lang"), 256)).getOrElse(sk)
      }
      graft.ops.Kmv.estimateDistinct(
        graft.streaming.SegmentStateIngest.finalState(s, s"$base/state"), Seq("lang"), 256)
    }.orderBy(col("lang")),
      // ... and the streaming state fold is the same merge
      kmvVocabSql),
    // the SAME sketch as streaming state: three micro-batches fold
    // their register tables into the state table by max re-agg —
    // sketch state is ~2^p rows per group forever, the 100 TB shape
    // for streaming cardinality (no key set ever stored), and the
    // final estimate must be BIT-IDENTICAL to the one-shot sketch
    // (max is associative/commutative over any row partition), so the
    // oracle is text_hll_vocab's unchanged
    Cert("stream_hll_vocab", (s, d) => withTempDir("graft-hll-stream") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SegmentStateIngest.run(s, docs.schema,
        s"$base/in", s"$base/state", s"$base/ckpt") { (prior, batch) =>
        val sk = graft.ops.Hll.sketch(
          batch.select(col("lang"), explode(TextOps.tokens(col("text"))).as("word")),
          Seq("lang"), col("word"), 9)
        prior.map(p => graft.ops.Hll.merge(Seq(p, sk), Seq("lang"))).getOrElse(sk)
      }
      graft.ops.Hll.estimate(
        graft.streaming.SegmentStateIngest.finalState(s, s"$base/state"), Seq("lang"), 9)
    }.orderBy(col("lang")),
      // micro-batch register folds must land on the identical estimate
      hllVocabSql),
    // the quantile sketch as STREAMING state: per-batch histograms
    // fold into the state table by exact integer addition, so the
    // final estimates are bit-identical to the one-shot sketch (third
    // sketch streamed, beside stream_hll/stream_cms — same oracle row)
    Cert("stream_quantile_sketch", (s, d) => withTempDir("graft-qsk-stream") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SegmentStateIngest.run(s, docs.schema,
        s"$base/in", s"$base/state", s"$base/ckpt") { (prior, batch) =>
        val sk = graft.ops.Quantiles.histogramSketch(
          batch, Seq("lang"), "n_chars", 0.0, 640.0, 64)
        prior.map(_.unionByName(sk).groupBy(col("lang"), col("bin"))
          .agg(sum(col("cnt")).as("cnt"))).getOrElse(sk)
      }
      graft.ops.Quantiles.estimateFromSketch(
        graft.streaming.SegmentStateIngest.finalState(s, s"$base/state"),
        Seq("lang"), 0.0, 640.0, 64, Seq(0.5, 0.9, 0.99))
    }.orderBy(col("lang"), col("q")),
      // ...and so must the micro-batch state folds
      quantileSketchSql),
    // the SAME additions arriving as a stream: per-batch idempotent
    // increment staging against the frozen tables, one post-drain
    // merge — must land on the identical final index, so it shares
    // the batch append's oracle verbatim
    Cert("stream_ann_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val (idx, dsub) = annIndexFor(s, d)
      withTempDir("graft-annstream") { base =>
        copyDirInto(idx, s"$base/idx") // mutates its own copy, never the cache
        val additions = emb.filter(col("vec_id") % 5 === 0).select(
          (col("vec_id") + lit(100000L)).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(1.01)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
        stageOrdered(Seq(0, 1).map(i => s"$base/in/g$i" -> (() =>
          additions.filter(col("vec_id") % 2 === i)
            .coalesce(1).write.parquet(s"$base/in/g$i"))))
        graft.streaming.AnnIngest.run(s, additions.schema,
          s"$base/in", s"$base/idx", s"$base/ckpt", 4, dsub)
        graft.streaming.AnnIngest.merge(s, s"$base/idx")
        graft.ops.AnnIndex.ivfPqTopK(s, s"$base/idx", embQueries(s, d), 4, dsub, 10, nprobe = 2)
          .orderBy(col("q_id"), col("rank"))
      }
    },
      annIncrementalSql),

    // ----- streaming core (M3): the full pipeline — raw JSON stream →
    //       parse/validate → foreachBatch transactional inventory →
    //       verdict sink — run synchronously (AvailableNow, one file ⇒
    //       one micro-batch, so admission semantics are oracle-checkable:
    //       admitted = orders whose every line fits under full cumulative
    //       charge serialized by order_id).
    Cert("stream_checkout_counts", (s, d) => streamCheckoutCounts(s, d),
      // Streaming checkout, batch-equivalent final state: one micro-batch ⇒
      // admission = every line fits under cumulative demand charged in
      // order_id-string order (pessimistic full-charge round, see
      // CheckoutStream.admitOrders). Integer-only arithmetic.
      ("WITH l AS (SELECT CAST(l_orderkey AS VARCHAR) AS order_id, l_partkey AS product_id, " +
        "CAST(l_quantity AS BIGINT) AS quantity FROM lineitem WHERE l_orderkey % 10 = 0), " +
        "cum AS (SELECT *, sum(quantity) OVER (PARTITION BY product_id ORDER BY order_id, quantity " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM l), " +
        "v AS (SELECT order_id, bool_and(cum <= COALESCE(p_size*10, 0)) AS ok " +
        "FROM cum LEFT JOIN part ON product_id = p_partkey GROUP BY order_id) " +
        "SELECT CASE WHEN ok THEN 'PROCESSED' ELSE 'FAILED' END AS status, " +
        "CAST(count(*) AS BIGINT) AS n_orders FROM v GROUP BY 1 ORDER BY status")),
    Cert("stream_dedup_counts", (s, d) => streamDedupCounts(s, d),
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n_events " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    Cert("stream_dlq_counts", (s, d) => streamDlqCounts(s, d),
      // Deterministic redrive policy: valid events deliver on attempt 1,
      // poison events burn exactly maxAttempts=3 attempts then dead-letter.
      (s"SELECT CASE WHEN $validSql THEN 'delivered' ELSE 'dead_letter' END AS outcome, " +
        "CAST(count(*) AS BIGINT) AS n_events, " +
        s"CAST(sum(CASE WHEN $validSql THEN 1 ELSE 3 END) AS BIGINT) AS n_attempts " +
        "FROM events GROUP BY 1 ORDER BY outcome")),
    Cert("stream_saga_counts", (s, d) => streamSagaCounts(s, d),
      // One line per product (first order by (orderkey, linenumber) wins),
      // so the keyed sequential grant reduces to quantity <= stock and the
      // order verdict to bool_and over the order's retained lines.
      ("WITH r AS (SELECT l_orderkey, l_partkey, CAST(l_quantity AS BIGINT) AS q FROM lineitem " +
        "WHERE l_orderkey % 50 = 0 " +
        "QUALIFY row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) = 1), " +
        "v AS (SELECT l_orderkey, bool_and(q <= COALESCE(p_size*10, 0)) AS ok " +
        "FROM r LEFT JOIN part ON l_partkey = p_partkey GROUP BY l_orderkey) " +
        "SELECT CASE WHEN ok THEN 'PROCESSED' ELSE 'FAILED' END AS status, " +
        "CAST(count(*) AS BIGINT) AS n_orders FROM v GROUP BY 1 ORDER BY status")),
    // the full saga under one driver (SagaLoop): a CONTENDED request set
    // (up to two orders per product, greedy grant by zero-padded
    // order_id), credits re-enqueued through the file queue and drained
    Cert("stream_saga_loop_counts", (s, d) => streamSagaLoopCounts(s, d),
      // Contended saga under one driver: <=2 orders per product ranked by
      // zero-padded order_id makes the engine's greedy within-batch grant
      // expressible as two SQL steps; refunds = granted lines of FAILED
      // orders, which the engine must have credited through the queue hop.
      ("WITH base AS (SELECT lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS order_id, " +
        "l_partkey, CAST(l_quantity AS BIGINT) AS q, l_linenumber FROM lineitem " +
        "WHERE l_orderkey % 37 = 0 " +
        "QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber) = 1), " +
        "ranked AS (SELECT order_id, l_partkey, q, " +
        "row_number() OVER (PARTITION BY l_partkey ORDER BY order_id) AS rn " +
        "FROM base QUALIFY rn <= 2), " +
        "seeded AS (SELECT r.order_id, r.l_partkey, r.q, r.rn, CAST(p.p_size AS BIGINT) AS stock " +
        "FROM ranked r JOIN part p ON r.l_partkey = p.p_partkey), " +
        "l1 AS (SELECT order_id, l_partkey, q, q <= stock AS granted FROM seeded WHERE rn = 1), " +
        "l2 AS (SELECT s.order_id, s.l_partkey, s.q, " +
        "s.q <= s.stock - CASE WHEN l1.granted THEN l1.q ELSE 0 END AS granted " +
        "FROM seeded s JOIN l1 ON s.l_partkey = l1.l_partkey WHERE s.rn = 2), " +
        "lines AS (SELECT order_id, q, granted FROM l1 UNION ALL SELECT order_id, q, granted FROM l2), " +
        "orders AS (SELECT order_id, bool_and(granted) AS all_granted FROM lines GROUP BY order_id), " +
        "refunds AS (SELECT l.order_id, count(*) AS n_refund_lines, sum(l.q) AS refund_qty " +
        "FROM lines l JOIN orders o ON l.order_id = o.order_id " +
        "WHERE l.granted AND NOT o.all_granted GROUP BY l.order_id) " +
        "SELECT CASE WHEN o.all_granted THEN 'PROCESSED' ELSE 'FAILED' END AS status, " +
        "CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(COALESCE(sum(r.n_refund_lines), 0) AS BIGINT) AS n_refund_lines, " +
        "CAST(COALESCE(sum(r.refund_qty), 0) AS BIGINT) AS refund_qty " +
        "FROM orders o LEFT JOIN refunds r ON o.order_id = r.order_id " +
        "GROUP BY 1 ORDER BY status")),
    Cert("stream_window_counts", (s, d) => streamWindowCounts(s, d),
      // append-mode watermarked windows must equal the batch aggregate
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start, event_type, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY win_start, event_type")),
    // stream-stream interval join under the oracle
    Cert("stream_join_counts", (s, d) => streamJoinCounts(s, d),
      // the stream-stream join's inner results equal the batch join
      ("SELECT c.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(count(DISTINCT c.event_id) AS BIGINT) AS n_clicks_matched " +
        "FROM events c JOIN events p ON c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND c.user_id = p.user_id " +
        "AND p.ts >= c.ts - INTERVAL '30 minutes' AND p.ts <= c.ts " +
        "GROUP BY c.user_id ORDER BY c.user_id")),
    // LEFT OUTER stream-stream join: null-extension only after the
    // min-watermark passes the join bound (state eviction), flushed in
    // one AvailableNow run by per-input sentinels
    Cert("stream_join_outer_counts", (s, d) => streamJoinOuterCounts(s, d),
      // the streamed outer join's emitted multiset == the batch LEFT
      // JOIN: k rows per k-matched click, one null row per unmatched
      ("SELECT c.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(count(p.event_id) AS BIGINT) AS n_matched, " +
        "CAST(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON c.user_id = p.user_id " +
        "AND p.ts >= c.ts - INTERVAL '30 minutes' AND p.ts <= c.ts " +
        "GROUP BY c.user_id ORDER BY c.user_id")),
    // streaming as-of: interval join chained into a watermark-windowed
    // latest-per-click aggregation — TWO stateful operators, one
    // append-mode query; result ≡ batch as-of with a 6-hour lookback
    Cert("stream_asof_counts", (s, d) => streamAsofCounts(s, d),
      // streaming as-of ≡ batch: latest purchase per click within the
      // 6-hour lookback, ties to the larger purchase id
      ("WITH l AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "r AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT l.click_id, l.user_id, r.event_id AS purchase_id, r.ts AS p_ts " +
        "FROM l JOIN r ON l.user_id = r.user_id " +
        "AND r.ts >= l.ts - INTERVAL '6 hours' AND r.ts <= l.ts) " +
        "SELECT click_id, user_id, purchase_id, " +
        "strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts FROM j " +
        "QUALIFY row_number() OVER (PARTITION BY click_id ORDER BY p_ts DESC, purchase_id DESC) = 1 " +
        "ORDER BY click_id")),
    // native streaming session_window ≡ the batch lag/gap sessionization
    Cert("stream_session_counts", (s, d) => streamSessionCounts(s, d),
      // IDENTICAL oracle to events_sessions: native session_window must
      // reproduce the lag/gap sessionization exactly
      ("WITH o AS (SELECT user_id, ts, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
        "m AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s FROM o), " +
        "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M') AS session_start, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS session_value " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, session_start")),
    // watermark-bounded streaming dedup: admitted set ≡ batch DISTINCT
    Cert("stream_watermark_dedup_counts", (s, d) => streamWatermarkDedupCounts(s, d),
      // watermark-bounded dedup ≡ batch DISTINCT over the planted-dup
      // input (no eviction mid-run: delay exceeds the corpus time span)
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n_events " +
        "FROM (SELECT DISTINCT event_id, event_type FROM events " +
        "WHERE event_id % 3 = 0 OR event_id % 5 = 0) " +
        "GROUP BY event_type ORDER BY event_type")),
    // streaming incremental-dedup ingest: 3 micro-batch files with
    // in-batch and cross-batch duplicates; content admitted exactly
    // once stream-wide regardless of batch arrival order
    Cert("stream_ingest_dedup_counts", (s, d) => withTempDir("graft-ingest-dedup") { base =>
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      stageOrdered(Seq(
        s"$base/in/g0" -> (() => docs.filter(col("doc_id") % 2 === 0)
          .coalesce(1).write.parquet(s"$base/in/g0")),
        s"$base/in/g1" -> (() => docs.filter(col("doc_id") % 2 === 1)
          .coalesce(1).write.parquet(s"$base/in/g1")),
        s"$base/in/g2" -> (() => docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 100000)
          .coalesce(1).write.parquet(s"$base/in/g2"))))
      graft.streaming.DedupIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      // recursive lookup instead of a glob: a glob path trips
      // FileStreamSink's metadata probe into logging a full stack trace
      val admitted = s.read.option("recursiveFileLookup", "true")
        .parquet(s"$base/out").count()
      val total = docs.count() + docs.filter(col("doc_id") % 7 === 0).count()
      Seq((admitted, total - admitted)).toDF("n_admitted", "n_rejected")
    },
      // stream-wide admission = one per distinct content, independent of
      // micro-batch arrival order
      ("WITH i AS (SELECT md5(text) AS h FROM documents " +
        "UNION ALL SELECT md5(text) AS h FROM documents WHERE doc_id % 7 = 0) " +
        "SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_admitted, " +
        "CAST((count(*) - count(DISTINCT h)) AS BIGINT) AS n_rejected FROM i")),

    // streaming CDC consumer: the store_cdc_apply ops log delivered as
    // two micro-batch files (later seqs may land first — tombstones in
    // state make batch order irrelevant); final table shares the batch
    // path's oracle
    Cert("stream_cdc_apply", (s, d) => withTempDir("graft-cdc-ingest") { base =>
      val log = cdcLog(s, d)
      // split by parity of the key — every batch carries a mix of ops
      stageOrdered(Seq(
        s"$base/in/g0" -> (() => log.filter(col("k") % 2 === 0)
          .coalesce(1).write.parquet(s"$base/in/g0")),
        s"$base/in/g1" -> (() => log.filter(col("k") % 2 =!= 0)
          .coalesce(1).write.parquet(s"$base/in/g1"))))
      // the bucketed (incremental) state layout is the certified path:
      // a batch rewrites only the key-buckets it touches, never the
      // whole table — the shape that survives table-sized state
      graft.streaming.CdcIngest.runBucketed(s, log.schema,
        s"$base/in", s"$base/state", s"$base/ckpt", Seq("k"), "seq", "op", nBuckets = 8)
      graft.streaming.CdcIngest.finalTableBucketed(s, s"$base/state", "op")
        .select(col("k").as("o_orderkey"), col("seq"), col("cents"))
        .orderBy(col("o_orderkey"))
    },
      // any micro-batch partition of the log converges to the same table
      cdcApplySql),
    // streaming incremental aggregate view: three micro-batches merge
    // into a state table (a replayed batch is a no-op); the
    // final state must equal the one-shot GROUP BY over everything the
    // stream saw (same oracle as the batch path store_incr_agg)
    // the graft-segment connector as a STREAMING source: three commits
    // append three manifest versions; the micro-batch stream's offset
    // is the committed-segment count, maxSegmentsPerTrigger=1 forces
    // one batch per commit, and AvailableNow drains the frozen prefix.
    // The sink sees every event exactly once — any redelivery or gap
    // shifts n_events/min/max off the batch oracle (resume-after-
    // restart is additionally spec-certified in SegmentSourceSpec)
    Cert("stream_segment_source_counts", (s, d) => withTempDir("graft-segstream") { base =>
      val dir = s"$base/events_seg"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      Seq(0, 1, 2).foreach(i => ev.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.format("graft-segment").mode("append").save(dir))
      Drain.toParquet(s.readStream.format("graft-segment")
        .option("maxSegmentsPerTrigger", "1").load(dir),
        s"$base/out", s"$base/ckpt")
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    },
      // the segment log drained as a stream must reconstruct the table
      ("SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events GROUP BY event_type ORDER BY event_type")),
    // a FRESH stream over a dv'd table serves exactly the live
    // snapshot: deletion vectors filter inside the streaming read too
    Cert("stream_segment_dv_counts", (s, d) => withTempDir("graft-segstrdv") { base =>
      val dir = s"$base/events_seg"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      Seq(0, 1, 2).foreach(i => ev.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.format("graft-segment").mode("append").save(dir))
      graft.sources.segment.GraftMaintenance.deleteMark(s, dir,
        pmod(col("event_id"), lit(7)) === 0)
      Drain.toParquet(s.readStream.format("graft-segment").load(dir),
        s"$base/out", s"$base/ckpt")
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    },
      // dv-deleted rows never reach the stream
      ("SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events WHERE event_id % 7 <> 0 " +
        "GROUP BY event_type ORDER BY event_type")),
    // startingTimestamp (Delta's inclusive contract): the stream
    // starts at the id watermark of the newest version stamped before
    // t, so binding the SECOND commit's own stamp delivers exactly
    // that commit's rows — time-denominated stream start on the same
    // monotonized stamps TIMESTAMP AS OF binds
    Cert("stream_segment_ts_counts", (s, d) => withTempDir("graft-segstrts") { base =>
      val dir = s"$base/events_seg"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .coalesce(1).write.format("graft-segment").mode("append").save(dir) // v0
      ev.filter(pmod(col("event_id"), lit(3)) =!= 0)
        .coalesce(1).write.format("graft-segment").mode("append").save(dir) // v1
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      val ts1 = graft.sources.segment.SegmentLog.read(fs, dir).get.ts
      Drain.toParquet(s.readStream.format("graft-segment")
        .option("startingTimestamp", ts1.toString).load(dir),
        s"$base/out", s"$base/ckpt")
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    },
      // starting at the second commit's stamp delivers its rows only
      ("SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events WHERE event_id % 3 <> 0 " +
        "GROUP BY event_type ORDER BY event_type")),
    // skipChangeCommits end-to-end: a checkpointed stream sails across
    // a metadata-only DELETE — the deleted UNCONSUMED segment is
    // skipped, appends keep flowing; the oracle is the closed form
    // "first third plus last third" of the id space
    Cert("stream_segment_skipcc_counts", (s, d) => withTempDir("graft-segskipcc") { base =>
      val dir = s"$base/events_seg"
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      def put(p: org.apache.spark.sql.Column): Unit =
        ev.filter(p).coalesce(1).write.format("graft-segment")
          .option("clusterBy", "event_id").option("numPartitions", "1")
          .mode("append").save(dir)
      def drain(): Unit = {
        Drain.toParquet(s.readStream.format("graft-segment")
          .option("skipChangeCommits", "true").load(dir),
          s"$base/out", s"$base/ckpt")
      }
      put(col("event_id") <= t1) // consumed by the first drain
      drain()
      put(col("event_id") > t1 && col("event_id") <= t2) // never consumed
      val fs = graft.sources.segment.SegmentLog.fs(dir, s.sessionState.newHadoopConf())
      new graft.sources.segment.GraftSegmentTable(dir,
        graft.sources.segment.SegmentLog.read(fs, dir).get.schema)
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.GreaterThan("event_id", t1),
          org.apache.spark.sql.sources.LessThanOrEqual("event_id", t2)))
      put(col("event_id") > t2) // appended after the delete
      drain() // survives the truncate, skips the dead middle third
      s.read.parquet(s"$base/out")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    },
      // first third consumed before the delete + last third appended
      // after it; the deleted middle third is skipped
      ("SELECT event_type, count(*) AS n_events, min(event_id) AS min_id, " +
        "max(event_id) AS max_id FROM events " +
        "WHERE event_id <= (SELECT max(event_id) FROM events) // 3 " +
        "OR event_id > 2 * (SELECT max(event_id) FROM events) // 3 " +
        "GROUP BY event_type ORDER BY event_type")),
    // STREAMING temperature mixture: the mixture predicate is a pure
    // (salt, key) hash filter — STATELESS, so it applies per
    // micro-batch with no state store and the kept set is identical
    // to the batch op's under ANY batch-boundary placement (the
    // retry-stability the deterministic hash buys). Rates derive ONCE
    // before the stream starts, from the manifest map — the
    // production shape: statistics versioned with the table, the
    // filter stamped into the running pipeline. Three appends stream
    // as three micro-batches (admission control); oracle = the batch
    // replay of the same chain
    Cert("stream_mixture_counts", (s, d) => withTempDir("graft-mixstream") { base =>
      val dir = s"$base/docs"
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 < 3, lit("web"))
          .otherwise(concat(lit("s"), col("doc_id") % 7)).as("src"))
      Seq(0, 1, 2).foreach(i => docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir))
      val totals = manifestStrTotals(s, dir, "src")
      val in = s.readStream.format("graft-segment")
        .option("maxSegmentsPerTrigger", "1").load(dir)
      Drain.toParquet(Sampling.mixtureSample(in, col("doc_id"), col("src"), totals,
          Sampling.temperatureShares(totals, 0.5), "tempsalt"),
        s"$base/out", s"$base/ckpt")
      s.read.parquet(s"$base/out")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("src"))
    },
      // the streamed mixture replayed as the batch chain, grouped
      ("WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 4 < 3 THEN 'web' " +
        "ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS src FROM documents), " +
        "t AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM docs GROUP BY src), " +
        "sh AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM t), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM sh), " +
        "r AS (SELECT src, least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate FROM sh CROSS JOIN c), " +
        "thr AS (SELECT src, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM r) " +
        "SELECT d.src, CAST(count(*) AS BIGINT) AS n_kept, " +
        "min(d.doc_id) AS min_id, max(d.doc_id) AS max_id " +
        "FROM docs d JOIN thr ON d.src = thr.src " +
        "WHERE substr(md5('tempsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr " +
        "GROUP BY d.src ORDER BY d.src")),
    // STREAMING mixture under STATISTIC REFRESH (r18 — the versioned-
    // statistics story): at 100 TB the corpus composition drifts while
    // the pipeline runs, so the keep-rates must be re-derivable from
    // the table's CURRENT manifest and applied at a batch boundary.
    // Regime A (the even half, two segments) streams under rates(A);
    // then a web-only append shifts the composition, the rates
    // re-derive from the updated manifest — zero scans, same
    // temperatureShares→mixtureRates chain — and a QUERY RESTART on
    // the same checkpoint applies them: the restart IS the batch
    // boundary, so only the new segment runs under rates(A∪B). The
    // oracle replays the two regimes' closed forms and concatenates —
    // exactly the kept set, because the per-regime predicate is a
    // stateless (salt, key) hash filter (batch-boundary-invariant
    // WITHIN a regime; the regime split is pinned by the appends)
    Cert("stream_mixture_refresh", (s, d) => withTempDir("graft-mixrefresh") { base =>
      val dir = s"$base/docs"
      // %8<5 (not the siblings' %4<3): regime A is the EVEN half, and
      // evens under %4<3 would be web-only — a single-source mixture
      // keeps everything and the refresh would certify nothing. Under
      // %8<5 the evens split ~3:1 web:tail, so both regimes' rate sets
      // are non-trivial and DIFFERENT (B is pure web)
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 8 < 5, lit("web"))
          .otherwise(concat(lit("s"), col("doc_id") % 7)).as("src"))
      def run(totals: Map[String, Long]): Unit = {
        val in = s.readStream.format("graft-segment")
          .option("maxSegmentsPerTrigger", "1").load(dir)
        Drain.toParquet(Sampling.mixtureSample(in, col("doc_id"), col("src"), totals,
            Sampling.temperatureShares(totals, 0.5), "tempsalt"),
          s"$base/out", s"$base/ckpt")
      }
      // regime A: the even half, as two segments (two micro-batches)
      Seq(0, 2).foreach(i => docs.filter(pmod(col("doc_id"), lit(4)) === i)
        .coalesce(1).write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir))
      run(manifestStrTotals(s, dir, "src"))
      // the composition shifts: a web-only append (doc_id % 8 == 1 ⊂
      // web) lands and the manifest statistic versions with it
      docs.filter(pmod(col("doc_id"), lit(8)) === 1)
        .coalesce(1).write.format("graft-segment").option("histFor", "src")
        .mode("append").save(dir)
      // refreshed rates from the CURRENT manifest, applied by restart:
      // the checkpoint has consumed regime A, so only the new segment
      // streams under the re-derived rates
      run(manifestStrTotals(s, dir, "src"))
      s.read.parquet(s"$base/out")
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("src"))
    },
      // the refreshed stream replayed as the CONCATENATED two-regime
      // batch: regime A (the even half) under rates derived from A's
      // totals, regime B (the web-only append) under rates derived from
      // the cumulative A∪B totals — the same sqrt/div/mul/trunc chain
      // per regime, so face and predicate cannot drift
      ("WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 8 < 5 THEN 'web' " +
        "ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS src FROM documents), " +
        "a AS (SELECT * FROM docs WHERE doc_id % 2 = 0), " +
        "b AS (SELECT * FROM docs WHERE doc_id % 8 = 1), " +
        "ab AS (SELECT * FROM docs WHERE doc_id % 2 = 0 OR doc_id % 8 = 1), " +
        "ta AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM a GROUP BY src), " +
        "sha AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM ta), " +
        "ca AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM sha), " +
        "ra AS (SELECT src, least(CAST(1.0 AS DOUBLE), ca.c * share / CAST(toks AS DOUBLE)) AS rate FROM sha CROSS JOIN ca), " +
        "thra AS (SELECT src, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM ra), " +
        "tb AS (SELECT src, CAST(count(*) AS BIGINT) AS toks FROM ab GROUP BY src), " +
        "shb AS (SELECT src, sqrt(CAST(toks AS DOUBLE)) AS share, toks FROM tb), " +
        "cb AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM shb), " +
        "rb AS (SELECT src, least(CAST(1.0 AS DOUBLE), cb.c * share / CAST(toks AS DOUBLE)) AS rate FROM shb CROSS JOIN cb), " +
        "thrb AS (SELECT src, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM rb), " +
        "kept AS (" +
        "SELECT d.doc_id, d.src FROM a d JOIN thra ON d.src = thra.src " +
        "WHERE substr(md5('tempsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thra.thr " +
        "UNION ALL " +
        "SELECT d.doc_id, d.src FROM b d JOIN thrb ON d.src = thrb.src " +
        "WHERE substr(md5('tempsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thrb.thr) " +
        "SELECT src, CAST(count(*) AS BIGINT) AS n_kept, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id " +
        "FROM kept GROUP BY src ORDER BY src")),
    // the STREAMING face of the change feed (readChangeFeed=true):
    // offsets are manifest VERSIONS, each micro-batch a closed version
    // range diffed by segment identity — inserts from appends and the
    // rewrite half of DML, deletes from the replaced half, compaction
    // invisible. Same commit sequence as store_segment_changes, one
    // version per trigger, so the SAME closed-form oracle certifies
    // the streamed feed row-for-row
    Cert("stream_segment_cdf", (s, d) => withTempDir("graft-segcdf") { base =>
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
      graft.sources.segment.GraftMaintenance.compact(s, dir, "k", 2)      // v3: silent
      put(col("k") % 3 === 2)                                             // v4
      Drain.toParquet(s.readStream.format("graft-segment")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load(dir),
        s"$base/out", s"$base/ckpt")
      s.read.parquet(s"$base/out")
        .orderBy(col("_commit_version"), col("_change_type"), col("k"))
    },
      // the STREAMED feed over the identical commit sequence must land
      // on the identical closed form — one oracle, two consumption modes
      segmentChangesOracleSql),
    // the connector as a STREAMING SINK: each micro-batch epoch is one
    // manifest commit carrying a (queryId, epoch) transaction id, so
    // retried epochs are no-ops — exactly-once INTO the table format
    // (replay idempotence spec-certified in SegmentSourceSpec); the
    // drained table must aggregate to the plain batch answer
    Cert("stream_segment_sink_counts", (s, d) => withTempDir("graft-segsink") { base =>
      val dir = s"$base/events_tbl"
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/f$i" -> (() =>
        ev.filter(pmod(col("event_id"), lit(3)) === i)
          .coalesce(1).write.parquet(s"$base/in/f$i"))))
      val q = Drain.files(s, ev.schema, s"$base/in")
        .writeStream.format("graft-segment")
        .option("path", dir).option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format("graft-segment").load(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100.0, 0).cast("long")).as("sum_cents"))
        .orderBy(col("event_type"))
    },
      // a stream drained INTO the segment table must reconstruct it too
      ("SELECT event_type, count(*) AS n_events, " +
        "CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY event_type ORDER BY event_type")),
    // the state backend driven directly: SegmentStateIngest folds each
    // micro-batch into a graft-segment state TABLE via one
    // transactional overwrite per epoch under (query id, batchId), and
    // a replayed batch is a no-op. Must land on the same
    // one-shot GROUP BY as stream_incr_agg (shared oracle)
    Cert("stream_incr_agg_segment", (s, d) => withTempDir("graft-incr-seg") { base =>
      val orders = Tables.orders(s, d).select(col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        orders.filter(col("o_custkey") % 3 === i)
          .coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.SegmentStateIngest.run(s, orders.schema,
        s"$base/in", s"$base/state_tbl", s"$base/ckpt") {
        case (None, batch) => graft.ops.IncrView.build(batch, Seq("o_custkey"), col("cents"))
        case (Some(prior), batch) =>
          graft.ops.IncrView.merge(prior, batch, Seq("o_custkey"), col("cents"))
      }
      graft.streaming.SegmentStateIngest.finalState(s, s"$base/state_tbl")
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_v").as("sum_cents"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"))
        .orderBy(col("o_custkey"))
    },
      // the table-format state backend must reach the identical view
      incrAggSql),
    Cert("stream_incr_agg", (s, d) => withTempDir("graft-incr-agg") { base =>
      val orders = Tables.orders(s, d).select(col("o_custkey"),
        round(col("o_totalprice") * 100.0, 0).cast("long").as("cents"))
      stageOrdered(Seq(0, 1, 2).map(i => s"$base/in/g$i" -> (() =>
        orders.filter(col("o_custkey") % 3 === i)
          .coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.IncrAggIngest.run(s, orders.schema,
        s"$base/in", s"$base/state", s"$base/ckpt", Seq("o_custkey"), "cents")
      graft.streaming.IncrAggIngest.finalState(s, s"$base/state")
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_v").as("sum_cents"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"))
        .orderBy(col("o_custkey"))
    },
      // the streaming state fold lands on the identical view
      incrAggSql),

    // streaming observability (SURVEY "what's missing" #1):
    // WorkCounters records per-batch (batchId, inputRows, stateRows,
    // watermark) as a DataFrame. Under AvailableNow +
    // maxFilesPerTrigger=1 each batch is exactly one staged file, so the multiset of per-batch input-row counts is
    // deterministic regardless of which order the source lists the
    // files — certified by sorting on the distinct-by-construction
    // counts (10% / 30% / 60% splits)
    Cert("stream_metrics_counts", (s, d) => withTempDir("graft-metrics") { base =>
      val orders = Tables.orders(s, d).select(col("o_orderkey"))
      val m10 = pmod(col("o_orderkey"), lit(10))
      stageOrdered(Seq(("g0", m10 < 1), ("g1", m10 >= 1 && m10 < 4), ("g2", m10 >= 4))
        .map { case (n, pred) => s"$base/in/$n" -> (() =>
          orders.filter(pred).coalesce(1).write.parquet(s"$base/in/$n"))
        })
      val (_, metrics) = WorkCounters.observe(s) {
        Drain.eachBatch(Drain.files(s, orders.schema, s"$base/in"), s"$base/ckpt") {
          (b, id) => b.write.mode("overwrite").parquet(s"$base/out/batch_$id")
        }
      }
      metrics.frame(s).filter(col("input_rows") > 0)
        .select(col("input_rows")).orderBy(col("input_rows"))
    },
      // the listener's per-batch input-row counts are the staged file
      // sizes — one file per batch under maxFilesPerTrigger=1
      ("SELECT CAST(count(*) AS BIGINT) AS input_rows FROM orders " +
        "GROUP BY CASE WHEN o_orderkey % 10 < 1 THEN 0 " +
        "WHEN o_orderkey % 10 < 4 THEN 1 ELSE 2 END " +
        "ORDER BY input_rows")),

    // late-data certification (ST6's negative path): batch 0 carries
    // every event plus a far-future sentinel that advances the
    // watermark beyond every real window; the %10 slice is then
    // re-sent entirely BELOW the watermark, so the windowed aggregate
    // must drop every one of those rows (the reference's "message too
    // old -> retention expiry", iac/main.tf:17). Spark filters a
    // stateful operator's late records with the PREVIOUS batch's
    // watermark (one batch more lagged than eviction — determinism
    // under batch retry), so a spacer batch sits between sentinel and
    // late slice. Certified three ways in one row: output row count
    // and event total equal the batch aggregate over the ON-TIME data
    // alone, and the listener's numRowsDroppedByWatermark equals the
    // late slice's (window, type) group count — the drop runs after
    // map-side partial aggregation, so groups are the dropped unit
    Cert("stream_late_drop_counts", (s, d) => withTempDir("graft-late") { base =>
      import s.implicits._
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("event_type"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinel = s.range(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)).as("ts"),
        lit("sentinel").as("event_type"))
      // staged concurrently; the mtimes stageOrdered stamps make the
      // file source drain on-time, spacer, late — same order as before
      stageOrdered(Seq(
        s"$base/in/f0" -> (() => ev.unionByName(sentinel)
          .coalesce(1).write.parquet(s"$base/in/f0")),
        s"$base/in/f1" -> (() => sentinel.withColumn("event_id", lit(-2L))
          .coalesce(1).write.parquet(s"$base/in/f1")),
        s"$base/in/f2" -> (() => ev.filter(col("event_id") % 10 === 0)
          .coalesce(1).write.parquet(s"$base/in/f2"))))
      val schema = s.read.parquet(s"$base/in/f0").schema
      val (_, metrics) = WorkCounters.observe(s) {
        Drain.toParquet(Drain.files(s, schema, s"$base/in")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events")),
          s"$base/out", s"$base/ckpt")
      }
      val out = s.read.parquet(s"$base/out").filter(col("event_type") =!= "sentinel")
      val nWindowRows = out.count()
      val nEvents = out.agg(sum(col("n_events"))).head().getLong(0)
      val nDropped = metrics.frame(s)
        .agg(sum(col("rows_dropped_late"))).head().getLong(0)
      Seq((nWindowRows, nEvents, nDropped))
        .toDF("n_window_rows", "n_events_counted", "n_dropped_late")
    },
      // late rows (the re-sent %10 slice, arriving beyond the advanced
      // watermark) contribute NOTHING to the windowed aggregate; the
      // engine's drop counter ticks once per late (window, type) group
      // (the drop runs post-partial-aggregation)
      ("SELECT (SELECT CAST(count(*) AS BIGINT) FROM " +
        "(SELECT DISTINCT date_trunc('hour', ts), event_type FROM events) t) AS n_window_rows, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM events) AS n_events_counted, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM " +
        "(SELECT DISTINCT date_trunc('hour', ts), event_type FROM events " +
        "WHERE event_id % 10 = 0) u) AS n_dropped_late")),

    // event-time TIMERS (abandoned-checkout expiry): a click opens a
    // pending entry; a purchase within 6 h completes it; otherwise
    // the registered timer fires when the watermark passes the
    // deadline and emits 'expired' — output produced by time passing,
    // not by a row arriving. Files staged in ascending event-time
    // thirds + a far-future sentinel (advances the watermark past
    // every deadline so all surviving timers fire); under in-order
    // staging the outcome is event-time pure, hence the batch oracle
    Cert("stream_timeout_expiry", (s, d) => withTempDir("graft-timeout") { base =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      // TWO trailing sentinels: timer eviction runs against the
      // watermark derived from data seen through the PREVIOUS batch,
      // so the first sentinel's advancement only takes effect in the
      // batch after it — the second sentinel makes that batch exist
      def sentinel(id: Long, plusHours: Long) = s.range(1).select(
        lit(id).as("event_id"), lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"),
        lit(new java.sql.Timestamp(maxTs.getTime + plusHours * 3600 * 1000)).as("ts"))
      stageEventTimeThirds(ev, base, Seq(sentinel(-1L, 8L), sentinel(-2L, 9L)))
      graft.streaming.TimeoutExpiry.run(s, ev.schema, s"$base/in", s"$base/out",
        s"$base/ckpt", "click", "purchase", 6L * 3600 * 1000)
      s.read.parquet(s"$base/out")
        .select(col("start_id"), col("user_id"), col("outcome"), col("latency_sec"))
        .orderBy(col("start_id"))
    },
      // event-time-pure timeout contract replayed as a batch join:
      // completed iff a same-user purchase lands in [click, click+6h]
      // at millisecond precision (both engines floor native resolution
      // to ms — epoch_ms here, Timestamp.getTime in the processor);
      // latency = floor-seconds difference; expired rows carry -1
      ("WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), " +
        "c AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'), " +
        "m AS (SELECT s.event_id, min(epoch_ms(c.ts)) AS cms FROM s JOIN c " +
        "ON c.user_id = s.user_id AND epoch_ms(c.ts) >= epoch_ms(s.ts) " +
        "AND epoch_ms(c.ts) - epoch_ms(s.ts) <= 21600000 GROUP BY s.event_id) " +
        "SELECT s.event_id AS start_id, s.user_id AS user_id, " +
        "CASE WHEN m.cms IS NOT NULL THEN 'completed' ELSE 'expired' END AS outcome, " +
        "CAST(CASE WHEN m.cms IS NOT NULL THEN m.cms // 1000 - epoch_ms(s.ts) // 1000 " +
        "ELSE -1 END AS BIGINT) AS latency_sec " +
        "FROM s LEFT JOIN m ON s.event_id = m.event_id ORDER BY start_id")),

    // per-user token-bucket rate limiting (cap 8h of credit, cost 4h
    // per event → sustained 1 per 4h, burst 2): exact integer-ms
    // credit chain in keyed state across ts-ordered batches; the
    // oracle replays each user's chain with a recursive scan
    Cert("stream_rate_limit", (s, d) => withTempDir("graft-ratelimit") { base =>
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"))
      stageEventTimeThirds(ev, base)
      graft.streaming.RateLimit.run(s, ev.schema, s"$base/in", s"$base/out",
        s"$base/ckpt", capMs = 8L * 3600 * 1000, costMs = 4L * 3600 * 1000)
      s.read.parquet(s"$base/out")
        .select(col("event_id"), col("user_id"), col("admitted"))
        .orderBy(col("event_id"))
    },
      // the integer credit chain replayed sequentially per user: first
      // event starts at full cap; refill = elapsed ms capped, admit
      // spends costMs, throttled events still advance the clock
      ("WITH RECURSIVE ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn FROM events), " +
        "tb AS (SELECT user_id, rn, event_id, ms, " +
        "true AS admitted, CAST(28800000 - 14400000 AS BIGINT) AS credit FROM ev WHERE rn = 1 " +
        "UNION ALL SELECT e.user_id, e.rn, e.event_id, e.ms, " +
        "least(28800000, t.credit + (e.ms - t.ms)) >= 14400000 AS admitted, " +
        "CASE WHEN least(28800000, t.credit + (e.ms - t.ms)) >= 14400000 " +
        "THEN least(28800000, t.credit + (e.ms - t.ms)) - 14400000 " +
        "ELSE least(28800000, t.credit + (e.ms - t.ms)) END AS credit " +
        "FROM ev e JOIN tb t ON e.user_id = t.user_id AND e.rn = t.rn + 1) " +
        "SELECT event_id, user_id, admitted FROM tb ORDER BY event_id")),

    // per-micro-batch dimension refresh: batch N must join dimension
    // version N (staged v0/v1/v2, batches split by o_orderkey % 3) —
    // a frozen-at-start static join would tag every row v0 and
    // hash-mismatch; the version prefix in the output group key is
    // the proof the refresh happened
    Cert("stream_dim_refresh_counts", (s, d) => withTempDir("graft-dimref") { base =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      // dim versions are keyed by NAME (batch k reads dim/v$k), so only
      // the input files need the mtime order pin — the dim writes ride
      // the same overlap pool unordered
      stageOrdered(
        (0 to 2).map(k => s"$base/in/f$k" -> (() =>
          o.filter(col("o_orderkey") % 3 === k)
            .coalesce(1).write.parquet(s"$base/in/f$k"))),
        (0 to 2).map(k => () => {
          Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"),
              concat(lit(s"v$k-"), col("c_mktsegment")).as("seg_v"))
            .write.parquet(s"$base/dim/v$k")
          ()
        }))
      val schema = s.read.parquet(s"$base/in/f0").schema
      graft.streaming.DimRefresh.run(s, schema, s"$base/in", s"$base/dim",
        s"$base/out", s"$base/ckpt", "o_custkey")
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .groupBy(col("seg_v")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("seg_v"))
    },
      // batch k = orders with o_orderkey % 3 = k joined to dim version k
      ("SELECT 'v' || (o_orderkey % 3) || '-' || c_mktsegment AS seg_v, " +
        "CAST(count(*) AS BIGINT) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY seg_v ORDER BY seg_v")),

    // streaming ONLINE near-dup admission: LSH band buckets are
    // claimed by every document that flows past; a doc is admitted
    // only if all its buckets are unclaimed. Input staged in three
    // ascending-doc_id files (mtimes pinned so the file source drains
    // them in order) — under that contract admission has a closed
    // form: doc holds the min doc_id in every one of its buckets
    Cert("stream_neardup_docs", (s, d) => withTempDir("graft-neardup") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      stageDocThirds(docs, base)
      graft.streaming.NearDupIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      // online admission ≡ min doc_id in every LSH band bucket (docs too
      // short to shingle claim nothing and are always admitted)
      (s"WITH sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "mn AS (SELECT band, signature, min(doc_id) AS min_doc FROM sig GROUP BY 1, 2), " +
        "rej AS (SELECT DISTINCT s.doc_id FROM sig s JOIN mn USING (band, signature) " +
        "WHERE mn.min_doc < s.doc_id) " +
        "SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM rej) " +
        "ORDER BY doc_id")),
    // data-contract enforcement at the ingest edge: row-local checks
    // split every micro-batch into output vs quarantine-with-reason
    // (first-failing-wins), the reference's 202/400 split generalized
    // to named contracts; stateless, so the oracle is one CASE chain
    Cert("stream_contract_counts", (s, d) => withTempDir("graft-contract") { base =>
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 13 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_totalprice"))
      stageOrdered(Seq(0, 1).map(i => s"$base/in/g$i" -> (() =>
        o.filter(col("o_orderkey") % 2 === i)
          .coalesce(1).write.parquet(s"$base/in/g$i"))))
      graft.streaming.ContractIngest.run(s, o.schema,
        s"$base/in", s"$base/out", s"$base/quarantine", s"$base/ckpt", Seq(
          "custkey_null" -> col("o_custkey").isNotNull,
          "price_cap" -> (col("o_totalprice") <= 400000.0)))
      val valid = s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .agg(count(lit(1)).as("n")).select(lit("valid").as("bucket"), col("n"))
      val quarantined = s.read.option("recursiveFileLookup", "true")
        .parquet(s"$base/quarantine")
        .groupBy(col("quarantine_reason").as("bucket"))
        .agg(count(lit(1)).as("n"))
      valid.unionByName(quarantined).orderBy(col("bucket"))
    },
      // closed-form admission replay: quality gate (fixed score ≥ 2),
      // exact keeper = min doc_id per digest among quality survivors,
      // near-dup keeper = bucket minimum among exact survivors — no
      // notion of batches, certifying batching-independence
      // first-failing-wins tagging as one CASE chain
      ("WITH co AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS ck, " +
        "o_totalprice AS p FROM orders) " +
        "SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM " +
        "(SELECT CASE WHEN ck IS NULL THEN 'custkey_null' " +
        "WHEN NOT (p <= 400000.0) THEN 'price_cap' ELSE 'valid' END AS bucket FROM co) " +
        "GROUP BY 1 ORDER BY 1")),
    // streaming incremental curation: quality gate → exact-dedup
    // admission → near-dup admission chained in ONE driver against
    // accumulated digest/claim state; admission is closed-form (three
    // min-aggregates), so the oracle replays it without any notion of
    // batches — the admitted set must be independent of batching
    Cert("stream_curation_docs", (s, d) => withTempDir("graft-stream-cur") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      stageDocThirds(docs, base)
      graft.streaming.CurationIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      streamCurationSql("")),
    // the backfill→streaming cutover end-to-end: docs below 250 are
    // the offline-built corpus seeding the state (claims counted,
    // never emitted); the stream carries the rest and must reject
    // everything the offline build already admitted — the oracle is
    // the SAME closed form with an emit filter
    Cert("stream_curation_boot_docs", (s, d) => withTempDir("graft-stream-curb") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val streamed = docs.filter(col("doc_id") >= 250)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val mid = (250 + maxId) / 2
      // the state bootstrap (its own dirs, consumed only once the
      // stream starts) rides the same overlap pool as the two fixture
      // writes — all three are independent
      stageOrdered(
        Seq(col("doc_id") <= mid, col("doc_id") > mid).zipWithIndex.map { case (pred, i) =>
          s"$base/in/f$i" -> (() => streamed.filter(pred).coalesce(1).write.parquet(s"$base/in/f$i"))
        },
        unordered = Seq(() => graft.streaming.CurationIngest.bootstrapState(
          s, s"$base/state", docs.filter(col("doc_id") < 250))))
      graft.streaming.CurationIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      // identical closed form; the emit filter models the bootstrap
      // corpus (claims counted, never emitted by the stream)
      streamCurationSql(" AND doc_id >= 250")),
    // the FULL batch recipe running incrementally: split routing
    // (benchmark never admitted), quality, exact, near-dup, plus
    // per-batch decontamination against the static benchmark-gram
    // artifact — batch/stream parity for the whole curation pipeline
    Cert("stream_curation_full_docs", (s, d) => withTempDir("graft-stream-curf") { base =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bench = docs.filter(
        Sampling.bucketHash(col("doc_id"), "cur") >=
          lit(Sampling.hexThreshold(0.8)))
      // the static benchmark-gram artifact build is independent of the
      // input staging — it rides the same overlap pool as the three
      // fixture writes instead of running serially before them
      var benchGrams: DataFrame = null
      stageDocThirds(docs, base, unordered = Seq(() => {
        benchGrams = TextOps.shinglePostings(bench, 5)
          .select(col("shingle")).distinct().localCheckpoint(true)
        ()
      }))
      graft.streaming.CurationIngest.run(s, docs.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt",
        split = Some((0.8, "cur")), benchGrams = Some(benchGrams))
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      // the full recipe replayed batch-free: split routing (fixed md5
      // threshold), fixed-score quality, exact keeper, band-claim
      // near-dup, then the static benchmark-gram anti-join
      (s"WITH fsp AS (SELECT doc_id, substring(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8) " +
        s"< '${graft.ops.Sampling.hexThreshold(0.8)}' AS is_train FROM documents), " +
        "ftr AS (SELECT d.doc_id, d.text FROM documents d JOIN fsp USING (doc_id) WHERE is_train), " +
        "fbe AS (SELECT d.doc_id, d.text FROM documents d JOIN fsp USING (doc_id) WHERE NOT is_train), " +
        "fsq AS (SELECT doc_id, text FROM ftr WHERE " +
        "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) >= 2), " +
        "fek AS (SELECT min(doc_id) AS doc_id FROM fsq GROUP BY md5(text)), " +
        "fed AS (SELECT fsq.* FROM fsq JOIN fek USING (doc_id)), " +
        "fsh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN " +
        "list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) " +
        "ELSE CAST([] AS VARCHAR[]) END AS shingles " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM fed)), " +
        "fsig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        "FROM (SELECT * FROM fsh WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "fmn AS (SELECT band, signature, min(doc_id) AS min_doc FROM fsig GROUP BY 1, 2), " +
        "frej AS (SELECT DISTINCT s.doc_id FROM fsig s JOIN fmn USING (band, signature) " +
        "WHERE fmn.min_doc < s.doc_id), " +
        "fad AS (SELECT doc_id, text FROM fed WHERE doc_id NOT IN (SELECT doc_id FROM frej)), " +
        s"fbg AS (${fiveGramSql("fbe", withId = false)}), " +
        s"fng AS (${fiveGramSql("fad", withId = true)}), " +
        "fcon AS (SELECT DISTINCT fng.doc_id FROM fng JOIN fbg USING (shingle)) " +
        "SELECT doc_id FROM fad WHERE doc_id NOT IN (SELECT doc_id FROM fcon) " +
        "ORDER BY doc_id")),
    // the decode path under STREAMING delivery: binary media rows
    // arrive in micro-batches, each batch runs the same per-row
    // ImageIO decode (batch-independent, so the batch path's oracle
    // certifies it verbatim) — the streaming multimodal ingest shape
    Cert("stream_mm_decode_features", (s, d) => withTempDir("graft-mm-stream") { base =>
      import s.implicits._
      val media = graft.multimodal.Multimodal
        .syntheticImages(Tables.documents(s, d)).toDF()
      stageOrdered(Seq(0, 1).map(i => s"$base/in/g$i" -> (() =>
        media.filter(col("media_id") % 2 === i)
          .coalesce(1).write.parquet(s"$base/in/g$i"))))
      Drain.eachBatch(Drain.files(s, media.schema, s"$base/in"), s"$base/ckpt") { (b, batchId) =>
        graft.multimodal.Multimodal
          .decodeImageStats(b.as[graft.multimodal.Multimodal.MediaRecord])
          .toDF().write.mode("overwrite").parquet(s"$base/out/batch_$batchId")
      }
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .orderBy(col("media_id"))
    },
      ("WITH g AS (SELECT doc_id AS media_id, " +
        "8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h, (8 + doc_id % 9) // 2 AS wa, " +
        "doc_id*37 % 256 AS ra, doc_id*59 % 256 AS ga, doc_id*83 % 256 AS ba, " +
        "doc_id*101 % 256 AS rb, doc_id*131 % 256 AS gb, doc_id*151 % 256 AS bb " +
        "FROM documents) " +
        "SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(w*h AS BIGINT) AS n_pixels, " +
        "CAST(h*(wa*ra + (w-wa)*rb) AS BIGINT) AS sum_r, " +
        "CAST(h*(wa*ga + (w-wa)*gb) AS BIGINT) AS sum_g, " +
        "CAST(h*(wa*ba + (w-wa)*bb) AS BIGINT) AS sum_b " +
        "FROM g ORDER BY media_id"))
  )

  /** The streaming pipeline driven end-to-end as a deterministic job:
    * orders (10% sample of lineitem, grouped to order events, JSON-
    * serialized into ONE file) stream through parse → validate →
    * transactional inventory, verdict counts read back from the sink. */
  private def streamCheckoutCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-stream") { base =>
    val li = Tables.lineitem(s, d).filter(col("l_orderkey") % 10 === 0)
    val inv = new graft.streaming.CheckoutStream.InventoryTable(s, s"$base/inv")
    // the order-JSON staging write and the inventory-table seed are
    // independent (disjoint dirs) — overlap them (guide §2.6)
    graft.streaming.Overlap.awaitAll(Seq(
      () => Checkout.ordersWithItems(li)
        .select(to_json(struct(
          col("l_orderkey").cast("string").as("order_id"),
          concat(lit("cust-"), col("l_orderkey")).as("customer_id"),
          transform(col("items"), i => struct(
            i.getField("product_id").cast("string").as("product_id"),
            i.getField("quantity").as("quantity"))).as("items"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$base/in"),
      () => inv.initialize(Checkout.inventoryFromParts(Tables.part(s, d))
        .select(col("product_id").cast("string").as("product_id"), col("stock")))))
    val raw = s.readStream.text(s"$base/in")
    val (valid, _) = graft.streaming.CheckoutStream.parseOrderStream(raw, "value")
    val q = graft.streaming.CheckoutStream
      .start(valid, inv, s"$base/verdicts", s"$base/ckpt").start()
    q.awaitTermination()
    s.read.parquet(s"$base/verdicts")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("status"))
  }

  /** ST4 over the generic event stream: every event delivered twice,
    * watermarked stream dedup restores exactly-once — final counts are
    * oracle-checkable against the plain distinct counts. */
  private def streamDedupCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-dedup-stream") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    ev.unionAll(ev).write.mode("overwrite").parquet(s"$base/in")
    Drain.toParquet(s.readStream.schema(ev.schema).parquet(s"$base/in")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id"),
      s"$base/out", s"$base/ckpt")
    s.read.parquet(s"$base/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** ST2/S4 driven end-to-end: every event enters a file-backed retry
    * queue; invalid events are poison — they fail every delivery,
    * re-enter the queue with attempts+1, and divert to the DLQ at
    * maxAttempts=3. Valid events deliver on attempt 1. The final
    * (outcome, count, total attempts) split is oracle-checkable because
    * the redrive policy is deterministic. */
  private def streamDlqCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-dlq") { base =>
    val queue = Ingest.parseAndValidateEvents(Tables.events(s, d))
      .select(col("event_id"), col("is_valid"), lit(0).as("attempts"))
    queue.write.mode("overwrite").parquet(s"$base/in/seed")
    graft.streaming.RetryLoop.run(s, queue.schema, s"$base/in",
      s"$base/delivered", s"$base/dlq", s"$base/ckpt", !col("is_valid"), maxAttempts = 3)
    // batch_N subdirs (plain names, no partition inference) need the
    // recursive lookup; a glob would trip FileStreamSink's metadata probe
    val del = s.read.schema(queue.schema).option("recursiveFileLookup", "true")
      .parquet(s"$base/delivered")
      .select(lit("delivered").as("outcome"), col("attempts"))
    val dead = s.read.schema(queue.schema).option("recursiveFileLookup", "true")
      .parquet(s"$base/dlq")
      .select(lit("dead_letter").as("outcome"), col("attempts"))
    del.unionByName(dead)
      .groupBy(col("outcome"))
      .agg(count(lit(1)).as("n_events"), sum(col("attempts")).cast("long").as("n_attempts"))
      .orderBy(col("outcome"))
  }

  /** A2 v2 driven end-to-end under the oracle: the keyed
    * `transformWithState` reserve (RocksDB state) over a file-source
    * stream, composed with the phase-2 order verdict. The request set
    * keeps ONE line per product (first order wins), so the keyed
    * sequential grant is exactly `quantity <= stock` per line and the
    * whole path is SQL-expressible; contention/compensation semantics
    * are certified separately by the StreamingSpec saga test. */
  private def streamSagaCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-saga") { base =>
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.InventoryProcessor
    import s.implicits._
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("l_orderkey"), col("l_linenumber"))
    val reqDf = Tables.lineitem(s, d).filter(col("l_orderkey") % 50 === 0)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        col("l_orderkey").cast("string").as("order_id"),
        col("l_partkey").cast("string").as("product_id"),
        col("l_quantity").cast("long").as("quantity"))
    reqDf.write.mode("overwrite").parquet(s"$base/in")
    val reqSchema = org.apache.spark.sql.Encoders.product[InventoryProcessor.LineRequest].schema
    val requests = s.readStream.schema(reqSchema).parquet(s"$base/in")
      .as[InventoryProcessor.LineRequest].groupByKey(_.product_id)
    // seed only products the request set touches: a missing key reads as
    // stock 0 in the processor, which is exactly the oracle's
    // COALESCE(stock, 0) — so trimming the initial state is semantics-
    // free and keeps the keyed-state cardinality proportional to the
    // workload, not the catalog
    val seed = Checkout.inventoryFromParts(Tables.part(s, d))
      .select(col("product_id").cast("string").as("product_id"), col("stock").cast("long").as("stock"))
      .join(reqDf.select(col("product_id")).distinct(), Seq("product_id"), "left_semi")
      .as[InventoryProcessor.ProductStock].groupByKey(_.product_id)
    // one RocksDB instance per state partition: 8 stores cover this
    // key cardinality, pinned rather than left at the session's
    // Session.cores, so the state layout does not follow the host's
    // core count (at cluster scale you SIZE this to the key space —
    // the knob, not the default, is the design)
    Session.withConfs(s, Session.RocksDbStateStore,
        "spark.sql.shuffle.partitions" -> "8") {
      Drain.toParquet(InventoryProcessor.reserve(requests, seed),
        s"$base/verdicts", s"$base/ckpt")
    }
    val verdicts = s.read.parquet(s"$base/verdicts").as[InventoryProcessor.LineVerdict]
    InventoryProcessor.orderVerdicts(verdicts)
      .select(col("order_id"),
        when(col("all_granted"), "PROCESSED").otherwise("FAILED").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("status"))
  }

  /** The SELF-CONTAINED saga (verdict r4 #6): [[graft.streaming.SagaLoop]]
    * drives reserve → order verdict → compensation → credit re-enqueue →
    * drain as ONE callable, against a deliberately CONTENDED request set.
    * Determinism under contention: at most two orders per product (ranked
    * by zero-padded order_id, so the processor's lexicographic
    * serialization equals the oracle's rank order), which makes the
    * greedy grant SQL-expressible in two steps — rn=1 grants iff
    * q1 <= stock, rn=2 iff q2 <= stock - (granted1 ? q1 : 0). Stock is
    * p_size (1..50, same range as quantities) so denials and
    * compensations actually occur; the output counts refund rows and
    * refunded quantity per status, certifying the credits really flowed
    * through the queue hop (all-zero refunds would hash-mismatch). */
  private def streamSagaLoopCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-sagaloop") { base =>
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.{InventoryProcessor, SagaLoop}
    import s.implicits._
    val oneLine = Window.partitionBy(col("l_orderkey"), col("l_partkey"))
      .orderBy(col("l_linenumber"))
    val perProduct = Window.partitionBy(col("product_id")).orderBy(col("order_id"))
    val reqDf = Tables.lineitem(s, d).filter(col("l_orderkey") % 37 === 0)
      .select(
        lpad(col("l_orderkey").cast("string"), 12, "0").as("order_id"),
        col("l_partkey").cast("string").as("product_id"),
        col("l_quantity").cast("long").as("quantity"),
        col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      .withColumn("dn", row_number().over(oneLine)).filter(col("dn") === 1)
      .withColumn("rn", row_number().over(perProduct)).filter(col("rn") <= 2)
      .select(col("order_id"), col("product_id"), col("quantity"))
    reqDf.write.mode("overwrite").parquet(s"$base/in/seed")
    val seed = Tables.part(s, d)
      .select(col("p_partkey").cast("string").as("product_id"),
        col("p_size").cast("long").as("stock"))
      .join(reqDf.select(col("product_id")).distinct(), Seq("product_id"), "left_semi")
      .as[InventoryProcessor.ProductStock]
    // state partitions sized to the key space, as streamSagaCounts
    Session.withConfs(s, Session.RocksDbStateStore,
        "spark.sql.shuffle.partitions" -> "8") {
      SagaLoop.run(s, s"$base/in", s"$base/verdicts", s"$base/ckpt", seed)
    }
    val verdicts = s.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/verdicts")
      .as[InventoryProcessor.LineVerdict]
    val orders = InventoryProcessor.orderVerdicts(verdicts)
    val refunds = verdicts.toDF().filter(col("quantity") < 0)
      .groupBy(col("order_id"))
      .agg(count(lit(1)).as("n_refund_lines"), sum(-col("quantity")).as("refund_qty"))
    orders.join(refunds, Seq("order_id"), "left")
      .groupBy(when(col("all_granted"), "PROCESSED").otherwise("FAILED").as("status"))
      .agg(
        count(lit(1)).as("n_orders"),
        coalesce(sum(col("n_refund_lines")), lit(0L)).cast("long").as("n_refund_lines"),
        coalesce(sum(col("refund_qty")), lit(0L)).cast("long").as("refund_qty"))
      .orderBy(col("status"))
  }

  /** Spark's NATIVE gap-based `session_window` aggregation, streaming,
    * in append mode — certified against the SAME oracle SQL as the
    * batch `events_sessions` lag/gap formulation, proving the two
    * sessionization semantics coincide (a session extends while
    * consecutive events are < gap apart; an exact-gap arrival starts a
    * new session). Same one-pass sentinel design as streamWindowCounts:
    * everything lands in batch 0, the sentinel (3 h past the horizon,
    * user_id −1, filtered after readback) drags the watermark past
    * every real session's close, and the automatic flush batch emits
    * them all. Session state is keyed (user, session) in RocksDB-ready
    * keyed state — the 100 TB sessionization shape, no per-user sort of
    * the whole history. */
  private def streamSessionCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-sess") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    // both files land in the same (only) micro-batch — the writes are
    // independent, overlap them (guide §2.6)
    graft.streaming.Overlap.awaitAll(Seq(
      () => ev.coalesce(8).write.mode("overwrite").parquet(s"$base/in/batch0"),
      () => s.range(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)).as("ts"),
        lit(-1L).as("user_id"),
        lit(0.0).as("value"))
        .write.mode("overwrite").parquet(s"$base/in/sentinel")))
    Session.withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
      Drain.toParquet(s.readStream.schema(ev.schema).parquet(s"$base/in/*")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm").as("session_start"),
          col("n_events"), col("session_value")),
        s"$base/out", s"$base/ckpt")
    }
    s.read.parquet(s"$base/out")
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stages `ev` under `$base/in` as three files in ascending
    * event-time thirds, then `tail` (one file per frame), in that
    * drain order. Thirds by event-time VALUE: the in-order staging
    * contract needs only nondecreasing file boundaries, not exact
    * row-count thirds — two tiny aggregates instead of a
    * single-partition global sort. */
  private def stageEventTimeThirds(ev: DataFrame, base: String,
      tail: Seq[DataFrame] = Seq.empty): Unit = {
    val mmTs = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (tLo, tHi) = (mmTs.getLong(0), mmTs.getLong(1))
    val (tcut1, tcut2) = (tLo + (tHi - tLo) / 3, tLo + 2 * (tHi - tLo) / 3)
    val tUs = unix_micros(col("ts"))
    val files = Seq(ev.filter(tUs <= tcut1), ev.filter(tUs > tcut1 && tUs <= tcut2),
      ev.filter(tUs > tcut2)) ++ tail
    stageOrdered(files.zipWithIndex.map { case (df, i) => s"$base/in/f$i" -> (() =>
      df.coalesce(1).write.parquet(s"$base/in/f$i"))
    })
  }

  /** Stages `docs` as three ascending-doc_id files `f0..f2` under
    * `$base/in`, stamped in that arrival order, with `unordered` writes
    * overlapped alongside. */
  private def stageDocThirds(docs: DataFrame, base: String,
      unordered: Seq[() => Unit] = Seq.empty): Unit = {
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val (t1, t2) = (maxId / 3, 2 * maxId / 3)
    val preds = Seq(col("doc_id") <= t1, col("doc_id") > t1 && col("doc_id") <= t2,
      col("doc_id") > t2)
    stageOrdered(preds.zipWithIndex.map { case (pred, i) => s"$base/in/f$i" -> (() =>
      docs.filter(pred).coalesce(1).write.parquet(s"$base/in/f$i"))
    }, unordered)
  }

  /** Stages the events' clicks and purchases as two file-stream inputs
    * under `base` (independent writes, overlapped — guide §2.6) and
    * opens both watermarked by 1 hour: clicks as (click_id, c_ts,
    * c_user), purchases as (purchase_id, p_ts, p_user). With
    * `sentinels`, each input also gets one event 6 h past the horizon
    * (user -1, ids -1 and -2): the join watermark is the minimum over
    * both inputs, so both need one to pass every real bound; readers
    * drop user -1. Everything lands in one AvailableNow micro-batch. */
  private def clicksAndPurchases(s: SparkSession, d: String, base: String,
      sentinels: Boolean): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val sentinelWrites = if (!sentinels) Seq.empty else {
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      def sentinel(id: Long) = s.range(1).select(
        lit(id).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 6L * 3600 * 1000)).as("ts"),
        lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"))
      Seq[() => Unit](
        () => sentinel(-1L).write.mode("overwrite").parquet(s"$base/in_clicks/sentinel"),
        () => sentinel(-2L).write.mode("overwrite").parquet(s"$base/in_purch/sentinel"))
    }
    graft.streaming.Overlap.awaitAll(Seq[() => Unit](
      () => ev.filter(col("event_type") === "click").coalesce(4)
        .write.mode("overwrite").parquet(s"$base/in_clicks/data"),
      () => ev.filter(col("event_type") === "purchase").coalesce(4)
        .write.mode("overwrite").parquet(s"$base/in_purch/data")) ++ sentinelWrites)
    def open(dir: String, id: String, ts: String, user: String) =
      s.readStream.schema(ev.schema).parquet(s"$base/$dir/*")
        .withWatermark("ts", "1 hour")
        .select(col("event_id").as(id), col("ts").as(ts), col("user_id").as(user))
    (open("in_clicks", "click_id", "c_ts", "c_user"),
      open("in_purch", "purchase_id", "p_ts", "p_user"))
  }

  /** Stream-STREAM interval join under the oracle: two watermarked file
    * streams (clicks, purchases) joined on user_id with a ±time bound —
    * the flagship Structured Streaming join, where BOTH sides buffer in
    * keyed state and the watermark bounds how long a row waits for its
    * match. Inner-join results are emitted as matches arrive regardless
    * of watermark progress, so one AvailableNow pass over fully-seeded
    * inputs yields exactly the batch join — which is the DuckDB oracle.
    * The time bound is what makes this scale: without it both sides'
    * state grows forever; with it the watermark evicts rows older than
    * the bound every batch. State partitions sized to the key space (8),
    * same design rule as the other stateful streams. */
  private def streamJoinCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-ssjoin") { base =>
    val (clicks, purchases) = clicksAndPurchases(s, d, base, sentinels = false)
    Session.withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
      Drain.toParquet(clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"))
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id")),
        s"$base/out", s"$base/ckpt")
    }
    s.read.parquet(s"$base/out")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("click_id")).as("n_clicks_matched"))
      .orderBy(col("user_id"))
  }

  /** Stream-stream LEFT OUTER interval join — the state-EVICTION
    * semantic the inner variant never exercises: an unmatched click's
    * null-extended row may only emit once the min-watermark across
    * both inputs passes its join bound (before that, a matching
    * purchase could still arrive). One sentinel per INPUT (both — the
    * join watermark is the minimum) jumps the watermark past every
    * real bound, and the engine's trailing watermark-flush batch
    * emits the whole unmatched set in the same single AvailableNow
    * run (streamWindowCounts' mechanism, applied to join state).
    * Sentinels pair only with each other (user -1) and are dropped at
    * the read-back. The emitted multiset then equals the batch LEFT
    * JOIN — matched rows per pair, one null row per unmatched click —
    * which is exactly the oracle. */
  private def streamJoinOuterCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-ssjoin-outer") { base =>
    val (clicks, purchases) = clicksAndPurchases(s, d, base, sentinels = true)
    Session.withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
      Drain.toParquet(clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("p_ts") <= col("c_ts"),
        "leftOuter")
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id")),
        s"$base/out", s"$base/ckpt")
    }
    s.read.parquet(s"$base/out")
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("purchase_id")).as("n_matched"),
        sum(when(col("purchase_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy(col("user_id"))
  }

  /** Streaming AS-OF — the family's third leg (batch composed window,
    * native physical operator, and now IN-FLIGHT): a watermarked
    * interval join produces each click's candidate purchases, and a
    * SECOND stateful operator — a watermark-windowed aggregation —
    * picks the latest per click with `max(struct(p_ts, purchase_id))`
    * (ties to the larger id, the deterministic tiebreak). Chained
    * stateful operators in ONE append-mode query are the Spark-4
    * semantics this certifies: the join's output still carries c_ts's
    * event-time marker, so the downstream window evicts on the same
    * watermark. Sentinels on BOTH inputs (the join watermark is the
    * min) jump it past every real window end; the sentinels' own join
    * row stays in the open sentinel window and never emits. Lookback
    * is bounded (6 h), so join state and agg state are both
    * watermark-bounded — the 100 TB/day shape for streaming feature
    * lookup. */
  private def streamAsofCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-asof-stream") { base =>
    val (clicks, purchases) = clicksAndPurchases(s, d, base, sentinels = true)
    Session.withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
      Drain.toParquet(clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 6 HOURS") &&
          col("p_ts") <= col("c_ts"))
        .groupBy(window(col("c_ts"), "1 hour"), col("click_id"), col("c_user"))
        .agg(max(struct(col("p_ts"), col("purchase_id"))).as("best"))
        .select(col("click_id"), col("c_user").as("user_id"),
          col("best.purchase_id").as("purchase_id"),
          date_format(col("best.p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts")),
        s"$base/out", s"$base/ckpt")
    }
    s.read.parquet(s"$base/out")
      .filter(col("user_id") =!= -1L)
      .orderBy(col("click_id"))
  }

  /** ST6 under the oracle: watermarked tumbling-window aggregation in
    * APPEND mode — a window row is emitted exactly once, when the
    * watermark passes its end. ONE AvailableNow run: the input dir holds
    * the real events plus one sentinel event 3 h past the horizon, all
    * of which land in the first micro-batch (the watermark is consulted
    * only BETWEEN batches, so nothing is late-dropped); after that batch
    * the watermark jumps past every real window's end and the engine's
    * automatic watermark-flush batch emits them all. The sentinel's own
    * window stays open (its end exceeds the final watermark) and is
    * filtered out. The emitted set then equals the batch tumbling
    * aggregate — the events_tumbling_hourly oracle. A prior two-pass
    * formulation (real events, then the sentinel through the same
    * checkpoint) proved the same semantics but paid query startup +
    * state restore twice: 12.7 s → 3.0 s at sf0.1 with this shape.
    * State partitions are sized to the window-group cardinality (8,
    * whatever the session's Session.cores) — same design rule as
    * streamSagaCounts. */
  private def streamWindowCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-win") { base =>
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    // both files land in the same (only) micro-batch — the writes are
    // independent, overlap them (guide §2.6)
    graft.streaming.Overlap.awaitAll(Seq(
      () => ev.coalesce(8).write.mode("overwrite").parquet(s"$base/in/batch0"),
      () => s.range(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)).as("ts"),
        lit("sentinel").as("event_type"),
        lit(0.0).as("value"))
        .write.mode("overwrite").parquet(s"$base/in/sentinel")))
    Session.withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
      Drain.toParquet(s.readStream.schema(ev.schema).parquet(s"$base/in/*")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
        .select(
          date_format(col("win.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          col("event_type"), col("n_events"), col("total_value")),
        s"$base/out", s"$base/ckpt")
    }
    s.read.parquet(s"$base/out")
      .filter(col("event_type") =!= "sentinel")
      .orderBy(col("win_start"), col("event_type"))
  }

  /** Watermark-bounded streaming dedup (`dropDuplicatesWithinWatermark`):
    * the 100 TB answer to `dropDuplicates` on a stream, whose key state
    * grows forever — here a key's state is EVICTED once the watermark
    * passes its event time + delay, so state size tracks the dedup
    * horizon, not stream history. Input plants exact-duplicate files
    * (every %3 event twice, plus the %5 slice whose %15 overlap
    * duplicates across files); with the delay exceeding the corpus time
    * span nothing evicts mid-run, so the admitted set provably equals
    * batch DISTINCT — the oracle. Eviction + re-admission semantics are
    * certified separately in StreamingSpec (two runs over one
    * checkpoint). */
  private def streamWatermarkDedupCounts(s: SparkSession, d: String): DataFrame = withTempDir("graft-wmdedup") { base =>
    val ev = Tables.events(s, d).select(col("event_id"), col("ts"), col("event_type"))
    val third = ev.filter(col("event_id") % 3 === 0)
    // one micro-batch drains all three files; which byte-identical
    // duplicate row survives the dedup is unobservable — overlap
    graft.streaming.Overlap.awaitAll(Seq(
      () => third.coalesce(4).write.parquet(s"$base/in/a"),
      () => third.coalesce(4).write.parquet(s"$base/in/b"), // byte-identical duplicates
      () => ev.filter(col("event_id") % 5 === 0).coalesce(4).write.parquet(s"$base/in/c")))
    Session.withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
      Drain.toParquet(s.readStream.schema(ev.schema).parquet(s"$base/in/*")
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark("event_id"),
        s"$base/out", s"$base/ckpt")
    }
    s.read.parquet(s"$base/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** The streaming-curation closed-form admission chain (fixed-score
    * quality → exact keeper → band-claim minimum); `emitPred` narrows
    * which admitted docs the stream actually EMITS (the bootstrap
    * corpus claims state but is never written to the output). */
  private def streamCurationSql(emitPred: String): String =
    "WITH sq AS (SELECT doc_id, text FROM documents WHERE " +
      "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) >= 2), " +
      "sek AS (SELECT min(doc_id) AS doc_id FROM sq GROUP BY md5(text)), " +
      "sed AS (SELECT sq.* FROM sq JOIN sek USING (doc_id)), " +
      "ssh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN " +
      "list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) " +
      "ELSE CAST([] AS VARCHAR[]) END AS shingles " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM sed)), " +
      "ssig AS (SELECT doc_id, b.band, " +
      "list_min(list_transform(shingles, s -> " +
      "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
      "FROM (SELECT * FROM ssh WHERE len(shingles) > 0) " +
      "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
      "smn AS (SELECT band, signature, min(doc_id) AS min_doc FROM ssig GROUP BY 1, 2), " +
      "srej AS (SELECT DISTINCT s.doc_id FROM ssig s JOIN smn USING (band, signature) " +
      "WHERE smn.min_doc < s.doc_id) " +
      "SELECT doc_id FROM sed WHERE doc_id NOT IN (SELECT doc_id FROM srej)" +
      s"$emitPred ORDER BY doc_id"
}
