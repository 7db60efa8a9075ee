package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.certs.Fixtures.{knnEdgesFor, withTempDir}
import graft.ops.Similarity
import graft.sources.Tables

/** Embedding certificates: exact and approximate nearest neighbours,
  * quantized indexes and similarity graphs. */
object EmbCerts {

  lazy val certs: Seq[Cert] = Seq(
    // ----- similarity search (M4)
    Cert("emb_cosine_topk", (s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), embQueries(s, d), 10)
        .orderBy(col("q_id"), col("rank")),
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    Cert("emb_cosine_topk_native", (s, d) =>
      Similarity.bruteForceTopKNative(Tables.embeddings(s, d), embQueries(s, d), 10)
        .orderBy(col("q_id"), col("rank")),
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    // the SAME top-k with the corpus routed through a graft-segment
    // table: array<float> decodes on the VECTORIZED path (child-vector
    // arrays, SegmentCodec.readBatchLive) — the scan must not drop to
    // the row reader for the LLM pipeline's hottest column shape, and
    // the answer must stay bit-identical to the parquet route
    Cert("emb_cosine_topk_segment", (s, d) => withTempDir("graft-segemb") { base =>
      val dir = s"$base/emb_seg"
      Tables.embeddings(s, d).write.format("graft-segment")
        .option("clusterBy", "vec_id").option("numPartitions", "8")
        .mode("append").save(dir)
      val emb = s.read.format("graft-segment").load(dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      Similarity.bruteForceTopK(emb, queries, 10).orderBy(col("q_id"), col("rank"))
    },
      // same oracle as emb_cosine_topk: the segment-table route must be
      // value-identical to the parquet route
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    // the SAME top-k written as SQL TEXT through the cosine_similarity
    // function GraftExtensions injects — third bit-identical path over
    // one oracle: HOF fold, native Column API, and SQL surface
    Cert("emb_cosine_sql", (s, d) => {
      Tables.embeddings(s, d).createOrReplaceTempView("emb_sql_corpus")
      embQueries(s, d).createOrReplaceTempView("emb_sql_queries")
      s.sql(
        """WITH scored AS (
          |  SELECT q_id, vec_id, round(cosine_similarity(q_emb, embedding), 4) AS sim
          |  FROM emb_sql_queries CROSS JOIN emb_sql_corpus WHERE vec_id <> q_id),
          |ranked AS (
          |  SELECT q_id, vec_id, sim,
          |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT q_id, vec_id, sim, rank FROM ranked WHERE rank <= 10
          |""".stripMargin)
        .orderBy(col("q_id"), col("rank"))
    },
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    // hard-negative mining for contrastive training: top-10 highest-
    // cosine CROSS-label neighbors per query (exact scorer certifies;
    // production swaps in the LSH/IVF candidate source — the label
    // filter commutes with candidate generation)
    Cert("emb_hard_negatives", (s, d) =>
      Similarity.hardNegatives(
        Tables.embeddings(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("label").as("q_label")),
        10)
        .orderBy(col("q_id"), col("rank")),
      // cross-label top-k: same double cosine formula as emb_cosine_topk
      // with the label disequality applied before ranking
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe, label AS q_label " +
        "FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce, label FROM embeddings), " +
        "s AS (SELECT q_id, vec_id, label, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id AND label <> q_label) " +
        "SELECT q_id, vec_id, label, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    // Matryoshka two-stage: coarse rank on the first 16 dims (1/4 of
    // the vector bytes), exact full-dim rerank of the top-100 — both
    // stages deterministic, the composition oracle-certified
    Cert("emb_prefix_rerank", (s, d) =>
      Similarity.prefixRerank(Tables.embeddings(s, d), embQueries(s, d), 16, 100, 10)
        .orderBy(col("q_id"), col("rank")),
      // both stages replayed: coarse cosine on dims 1..16, QUALIFY
      // top-100, exact full-dim rerank to 10
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings), " +
        "coarse AS (SELECT q_id, vec_id, qe, ce, round(" +
        "list_sum(list_transform(range(1, 17), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe[1:16], x -> x*x))) * sqrt(list_sum(list_transform(ce[1:16], x -> x*x)))), 4) AS coarse_sim " +
        "FROM q CROSS JOIN c WHERE vec_id <> q_id), " +
        "cand AS (SELECT q_id, vec_id, qe, ce FROM coarse " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY coarse_sim DESC, vec_id) <= 100), " +
        "s AS (SELECT q_id, vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*ce[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(ce, x -> x*x)))), 4) AS sim " +
        "FROM cand) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    // SQ8 scalar quantization: per-dim [min,max] affine codes (4x
    // compression), asymmetric top-k over reconstructions — codes and
    // scores bit-portable via floor(x+0.5) in fixed double order
    Cert("emb_sq8_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val st = graft.ops.Sq.stats(emb)
      graft.ops.Sq.adcTopK(graft.ops.Sq.encode(emb, st), st, embQueries(s, d), 10)
        .orderBy(col("q_id"), col("rank"))
    },
      // the full SQ8 chain replayed: per-dim min/max, floor(x+0.5)
      // codes, affine reconstruction, asymmetric cosine — identical
      // double operation order end to end
      (s"WITH $sq8ChainSql, " +
        "sqq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "sqs AS (SELECT q_id, sqrec.vec_id AS vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*re[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(re, x -> x*x)))), 4) AS sim " +
        "FROM sqq CROSS JOIN sqrec WHERE sqrec.vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM sqs QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    // IVF routing composed with SQ8 ADC (the third quantization tier
    // next to IVF-flat and IVF-PQ): scan nprobe/k of the corpus, read
    // 1/4 of the vector bytes per candidate
    Cert("emb_ivfsq_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      // the trainer's returns are already materialized and cut
      // (Ivf.index's contract) — re-checkpointing them here would copy
      // the blocks and pay an extra job per frame
      val (idx, cents) = graft.ops.Ivf.index(emb, k = 8, iters = 2)
      val st = graft.ops.Sq.stats(emb).localCheckpoint(true)
      val codes = graft.ops.Sq.encode(emb, st).localCheckpoint(true)
      val cands = graft.ops.Ivf.route(cents, embQueries(s, d), nprobe = 2)
        .join(idx, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
      graft.ops.Sq.adcTopKWithin(cands, codes, st, embQueries(s, d), 10)
        .orderBy(col("q_id"), col("rank"))
    },
      // IVF routing (ivfSql's trained index) composed with SQ8 ADC —
      // candidates from the probed buckets only, scored on affine
      // reconstructions; the third ANN quantization tier
      (s"WITH $ivfSql, $sq8ChainSql, " +
        "iq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        s"ir AS (SELECT q_id, centroid_id FROM (SELECT q_id, centroid_id, ${cosSql("qe", "ce")} AS csim " +
        "FROM iq CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        "icand AS (SELECT ir.q_id, a2.vec_id FROM ir JOIN a2 USING (centroid_id) " +
        "WHERE a2.vec_id <> ir.q_id), " +
        s"sqs AS (SELECT cd.q_id, cd.vec_id, round(${cosSql("q.qe", "r.re")}, 4) AS sim " +
        "FROM icand cd JOIN sqrec r ON cd.vec_id = r.vec_id JOIN iq q ON q.q_id = cd.q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM sqs QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    Cert("emb_bucket_histogram", (s, d) =>
      Similarity.bucketHistogram(Tables.embeddings(s, d), 4).orderBy(col("bucket")),
      ("SELECT ((CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END) + (CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END) + " +
        "(CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END) + (CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END)) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n_vectors, CAST(count(DISTINCT label) AS BIGINT) AS n_labels " +
        "FROM embeddings GROUP BY 1 ORDER BY bucket")),
    Cert("emb_ann_lsh_topk", (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), embQueries(s, d), 5, embBits(s, d))
        .orderBy(col("q_id"), col("rank")),
      (s"WITH $bktSql, " +
        "q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM bkt WHERE vec_id < 5), " +
        "s AS (SELECT q_id, c.vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*c.e[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(c.e, x -> x*x)))), 4) AS sim " +
        "FROM q JOIN bkt c ON q.bucket = c.bucket AND c.vec_id <> q.q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 5 ORDER BY q_id, rank")),
    // multi-probe: own bucket + Hamming-1 neighbors — closes the
    // boundary-vector recall cliff of the single-probe path
    Cert("emb_ann_multiprobe_topk", (s, d) =>
      Similarity.multiProbeTopK(Tables.embeddings(s, d), embQueries(s, d), 5, embBits(s, d))
        .orderBy(col("q_id"), col("rank")),
      // candidate set = own bucket ∪ Hamming-1 buckets: xor of the two
      // bucket ids is a power of two below 2^b (bucket is HUGEINT from
      // list_sum — cast to BIGINT for xor)
      (s"WITH $bktSql, " +
        "q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM bkt WHERE vec_id < 5), " +
        "s AS (SELECT q_id, c.vec_id, round(" +
        "list_sum(list_transform(range(1, len(qe)+1), i -> qe[i]*c.e[i])) / " +
        "(sqrt(list_sum(list_transform(qe, x -> x*x))) * sqrt(list_sum(list_transform(c.e, x -> x*x)))), 4) AS sim " +
        "FROM q JOIN bkt c ON c.vec_id <> q.q_id CROSS JOIN prm " +
        "WHERE q.bucket = c.bucket OR list_contains(" +
        "list_transform(range(0, CAST(b AS BIGINT)), i -> CAST(power(2, i) AS BIGINT)), " +
        "xor(CAST(q.bucket AS BIGINT), CAST(c.bucket AS BIGINT)))) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 5 ORDER BY q_id, rank")),
    // ANN EVALUATION under the oracle: recall@5 of the single-probe and
    // multi-probe LSH paths against exact brute force, per query — the
    // quality metric an index pipeline reports, and the multi-probe ≥
    // single-probe claim certified as data, not doc prose
    Cert("emb_ann_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = embQueries(s, d)
      val bits = embBits(s, d)
      val bf = Similarity.bruteForceTopK(emb, q, 5).select(col("q_id"), col("vec_id"))
      val single = Similarity.lshTopK(emb, q, 5, bits)
        .select(col("q_id").as("sq"), col("vec_id").as("sv"))
      val multi = Similarity.multiProbeTopK(emb, q, 5, bits)
        .select(col("q_id").as("mq"), col("vec_id").as("mv"))
      bf.join(single, col("q_id") === col("sq") && col("vec_id") === col("sv"), "left")
        .join(multi, col("q_id") === col("mq") && col("vec_id") === col("mv"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("sv")).as("hits_single"), count(col("mv")).as("hits_multi"))
        .orderBy(col("q_id"))
    },
      // recall@5 per query: exact top-5 left-joined against each LSH
      // path's top-5; count of non-null = hits
      (s"WITH $bktSql, " +
        "q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM bkt WHERE vec_id < 5), " +
        "bf AS (SELECT q_id, c.vec_id FROM q CROSS JOIN bkt c WHERE c.vec_id <> q.q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "c.e")}, 4) DESC, c.vec_id) <= 5), " +
        "ls AS (SELECT q_id, c.vec_id FROM q JOIN bkt c ON c.vec_id <> q.q_id AND q.bucket = c.bucket " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "c.e")}, 4) DESC, c.vec_id) <= 5), " +
        "mp AS (SELECT q_id, c.vec_id FROM q JOIN bkt c ON c.vec_id <> q.q_id CROSS JOIN prm " +
        "WHERE q.bucket = c.bucket OR list_contains(" +
        "list_transform(range(0, CAST(b AS BIGINT)), i -> CAST(power(2, i) AS BIGINT)), " +
        "xor(CAST(q.bucket AS BIGINT), CAST(c.bucket AS BIGINT))) " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "c.e")}, 4) DESC, c.vec_id) <= 5) " +
        "SELECT b.q_id AS q_id, CAST(count(l.vec_id) AS BIGINT) AS hits_single, " +
        "CAST(count(m.vec_id) AS BIGINT) AS hits_multi " +
        "FROM bf b LEFT JOIN ls l ON b.q_id = l.q_id AND b.vec_id = l.vec_id " +
        "LEFT JOIN mp m ON b.q_id = m.q_id AND b.vec_id = m.vec_id " +
        "GROUP BY b.q_id ORDER BY b.q_id")),
    // two Lloyd iterations so the centroid UPDATE path (not just the
    // seeded assignment) runs under the oracle; the DuckDB SQL mirrors
    // the full assign → float-quantized mean → re-assign chain
    Cert("emb_ivf_assign", (s, d) =>
      graft.ops.Ivf.buildIndex(Tables.embeddings(s, d), k = 8, iters = 2)
        .groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("centroid_id")),
      (s"WITH $ivfSql " +
        "SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors FROM a2 " +
        "GROUP BY centroid_id ORDER BY centroid_id")),
    // probe path: route each query to its nprobe=2 nearest centroids,
    // score only vectors in those buckets
    Cert("emb_ivf_topk", (s, d) => {
      val (idx, cents) = graft.ops.Ivf.index(Tables.embeddings(s, d), k = 8, iters = 2)
      graft.ops.Ivf.topK(idx, cents, embQueries(s, d), 10, nprobe = 2)
        .orderBy(col("q_id"), col("rank"))
    },
      (s"WITH $ivfSql, " +
        "q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        s"r AS (SELECT q_id, qe, centroid_id FROM (SELECT q_id, qe, centroid_id, ${cosSql("qe", "ce")} AS csim FROM q CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        s"sc AS (SELECT q_id, vec_id, round(${cosSql("qe", "ve")}, 4) AS sim " +
        "FROM r JOIN a2 USING (centroid_id) WHERE vec_id <> q_id) " +
        "SELECT q_id, vec_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM sc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10 ORDER BY q_id, rank")),
    // the 100 TB kNN-GRAPH path: the exact all-pairs 5-NN edge frame
    // (knnEdgesFor) is a CERTIFICATION artifact — O(N²) by definition
    // (×100 exponent measured in BENCH_NOTES r13); production graphs
    // build edges from IVF buckets instead: every vector routes to its
    // 2 nearest centroids, candidates come from a per-bucket
    // equi-join, top-5 per source — ~nprobe·N²/nc pair evaluations,
    // O(N^1.5) with nc ∝ √N. Same (src, dst, w) contract, certified
    // exactly on its own bucketed definition; the spec pins recall vs
    // the exact frame
    Cert("emb_knn_bucketed", (s, d) =>
      graft.ops.PageRank.knnEdgesBucketed(Tables.embeddings(s, d),
        k = 5, nc = 8, iters = 2, nprobe = 2)
        .select(col("src"), col("dst"), round(col("w"), 4).as("w"))
        .orderBy(col("src"), col("dst")),
      // every vector routes to its 2 nearest final centroids, candidates
      // share a probed bucket with the candidate's OWN assignment (a2),
      // top-5 per source on raw cosine (vec_id tiebreak), weight
      // (1+cos)/2 rounded at output only
      (s"WITH $ivfSql, " +
        "kr AS (SELECT q_id, qe, centroid_id FROM (SELECT v.vec_id AS q_id, v.ve AS qe, c1.centroid_id, " +
        s"${cosSql("v.ve", "ce")} AS csim FROM v CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        s"ksc AS (SELECT q_id, vec_id, ${cosSql("qe", "ve")} AS cs FROM kr JOIN a2 USING (centroid_id) WHERE vec_id <> q_id), " +
        "ktop AS (SELECT q_id, vec_id, cs FROM ksc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) <= 5) " +
        "SELECT q_id AS src, vec_id AS dst, round((1 + cs) / 2, 4) AS w " +
        "FROM ktop ORDER BY src, dst")),
    // the IVF knob sweep as certified data (the banding-tradeoff
    // pattern applied to nprobe): recall-vs-truth at nprobe 1/2/4
    // against the same trained index — monotone recall, paid in probed
    // buckets; the tuning table an operator reads before sizing probes
    Cert("emb_ivf_nprobe_tradeoff", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = embQueries(s, d)
      val (idx, cents) = graft.ops.Ivf.index(emb, k = 8, iters = 2)
      val bf = Similarity.bruteForceTopK(emb, q, 5).select(col("q_id"), col("vec_id"))
      def arm(np: Int, qa: String, va: String) =
        graft.ops.Ivf.topK(idx, cents, q, 5, nprobe = np)
          .select(col("q_id").as(qa), col("vec_id").as(va))
      bf.join(arm(1, "q1", "v1"),
          col("q_id") === col("q1") && col("vec_id") === col("v1"), "left")
        .join(arm(2, "q2", "v2"),
          col("q_id") === col("q2") && col("vec_id") === col("v2"), "left")
        .join(arm(4, "q4", "v4"),
          col("q_id") === col("q4") && col("vec_id") === col("v4"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("v1")).as("hits_np1"), count(col("v2")).as("hits_np2"),
          count(col("v4")).as("hits_np4"))
        .orderBy(col("q_id"))
    },
      // three nprobe arms over the SAME trained index (r{np} = routed
      // centroids, s{np} = bucket-restricted top-5), recall counted
      // against the a2-corpus brute force
      (s"WITH $ivfSql, " +
        "npq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
        "npbf AS (SELECT q_id, c.vec_id FROM npq CROSS JOIN a2 c WHERE c.vec_id <> npq.q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "c.ve")}, 4) DESC, c.vec_id) <= 5), " +
        "npr1 AS (SELECT q_id, qe, centroid_id FROM (SELECT q_id, qe, centroid_id, " +
        s"${cosSql("qe", "ce")} AS csim FROM npq CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 1), " +
        "nps1 AS (SELECT q_id, vec_id FROM npr1 JOIN a2 USING (centroid_id) WHERE vec_id <> q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "ve")}, 4) DESC, vec_id) <= 5), " +
        "npr2 AS (SELECT q_id, qe, centroid_id FROM (SELECT q_id, qe, centroid_id, " +
        s"${cosSql("qe", "ce")} AS csim FROM npq CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
        "nps2 AS (SELECT q_id, vec_id FROM npr2 JOIN a2 USING (centroid_id) WHERE vec_id <> q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "ve")}, 4) DESC, vec_id) <= 5), " +
        "npr4 AS (SELECT q_id, qe, centroid_id FROM (SELECT q_id, qe, centroid_id, " +
        s"${cosSql("qe", "ce")} AS csim FROM npq CROSS JOIN c1) " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 4), " +
        "nps4 AS (SELECT q_id, vec_id FROM npr4 JOIN a2 USING (centroid_id) WHERE vec_id <> q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY round(${cosSql("qe", "ve")}, 4) DESC, vec_id) <= 5) " +
        "SELECT b.q_id AS q_id, CAST(count(a1.vec_id) AS BIGINT) AS hits_np1, " +
        "CAST(count(a2j.vec_id) AS BIGINT) AS hits_np2, CAST(count(a4.vec_id) AS BIGINT) AS hits_np4 " +
        "FROM npbf b LEFT JOIN nps1 a1 ON b.q_id = a1.q_id AND b.vec_id = a1.vec_id " +
        "LEFT JOIN nps2 a2j ON b.q_id = a2j.q_id AND b.vec_id = a2j.vec_id " +
        "LEFT JOIN nps4 a4 ON b.q_id = a4.q_id AND b.vec_id = a4.vec_id " +
        "GROUP BY b.q_id ORDER BY b.q_id")),
    // dominant principal direction by power iteration — linear algebra
    // as relational aggregates, float-quantized iterates for parity
    // embedding drift between two corpus versions (disjoint halves by
    // vec_id parity): cosine of the float-quantized per-dimension mean
    // vectors + relative centroid shift — the encoder-change monitor
    Cert("emb_drift_shift", (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.ops.Drift.embeddingShift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 =!= 0))
    },
      // per-dimension means float-quantized before the d-row reduction,
      // mirroring the Spark side exactly (the Pca iterate discipline)
      ("WITH deo AS (SELECT CAST(embedding AS DOUBLE[]) AS ve FROM embeddings WHERE vec_id % 2 = 0), " +
        "den AS (SELECT CAST(embedding AS DOUBLE[]) AS ve FROM embeddings WHERE vec_id % 2 <> 0), " +
        "dmo AS (SELECT dim, CAST(CAST(avg(val) AS REAL) AS DOUBLE) AS a FROM " +
        "(SELECT unnest(range(1, len(ve)+1)) AS dim, unnest(ve) AS val FROM deo) GROUP BY dim), " +
        "dmn AS (SELECT dim, CAST(CAST(avg(val) AS REAL) AS DOUBLE) AS b FROM " +
        "(SELECT unnest(range(1, len(ve)+1)) AS dim, unnest(ve) AS val FROM den) GROUP BY dim) " +
        "SELECT CAST(count(*) AS INT) AS n_dims, " +
        "round(sum(a*b) / (sqrt(sum(a*a)) * sqrt(sum(b*b))), 6) AS cos_means, " +
        "round(sqrt(sum((a-b)*(a-b))) / sqrt(sum(a*a)), 6) AS shift_ratio " +
        "FROM dmo JOIN dmn USING (dim)")),
    Cert("emb_pca_power", (s, d) =>
      graft.ops.Pca.powerIteration(Tables.embeddings(s, d), 2)
        .orderBy(col("dim")),
      pcaSql),
    // common-component removal (SIF post-process): per-vector residual
    // norm after projecting out the power-iteration direction
    Cert("emb_pca_residuals", (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.Pca.residualNorms(emb, graft.ops.Pca.direction(emb, 2))
        .orderBy(col("vec_id"))
    },
      // residual after removing the dominant direction: same chain, one
      // more map-only projection pass
      (s"WITH $pcaChainSql, " +
        "pr AS (SELECT vec_id, ve, v, list_sum(list_transform(range(1, len(ve)+1), i -> ve[i]*v[i])) AS dot " +
        "FROM pe CROSS JOIN v2) " +
        "SELECT vec_id, round(sqrt(list_sum(list_transform(" +
        "list_transform(range(1, len(ve)+1), i -> ve[i] - dot * v[i]), x -> x*x))), 4) AS residual_norm " +
        "FROM pr ORDER BY vec_id")),
    // PageRank over the 5-NN cosine graph: graph-centrality as a
    // representativeness score (the link-graph quality prior of web
    // curation, on the similarity graph). Certification edges are the
    // quadratic brute-force kNN (oracle-replayable); at scale the edge
    // source swaps to the ANN candidates. Five float-quantized damped
    // iterations, replayed as a SQL CTE chain to hash equality
    Cert("emb_pagerank", (s, d) =>
      graft.ops.PageRank.ranks(
        knnEdgesFor(s, d).select(col("src"), col("dst")),
        damping = 0.85, iters = 5)
        .select(col("node").as("vec_id"), round(col("rank"), 8).as("pr"))
        .orderBy(col("vec_id")),
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        // UNROUNDED sim: bit-identical dim-ordered folds in both
        // engines (the Pca contract) — see PageRank.knnEdges
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY src), " +
        "nodes AS (SELECT src AS node FROM knn UNION SELECT dst FROM knn), " +
        "nn AS (SELECT count(*) AS n FROM nodes), " +
        "r0 AS (SELECT node, CAST(CAST(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS REAL) AS DOUBLE) AS rank FROM nodes), " +
        (1 to 5).map(pagerankIterSql).mkString(", ") + " " +
        "SELECT node AS vec_id, round(rank, 8) AS pr FROM r5 ORDER BY vec_id")),
    // personalized PageRank from a trusted seed set (label-0 vectors):
    // restart mass goes ONLY to seeds, so rank measures graph
    // proximity to the curated subset — the expand-from-seeds
    // selection primitive. Same chain discipline as emb_pagerank
    Cert("emb_pagerank_seeded", (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.ops.PageRank.personalizedRanks(
        knnEdgesFor(s, d).select(col("src"), col("dst")),
        emb.filter(col("label") === 0).select(col("vec_id").as("node")),
        damping = 0.85, iters = 5)
        .select(col("node").as("vec_id"), round(col("rank"), 8).as("pr"))
        .orderBy(col("vec_id"))
    },
      // the personalized chain: seed-gated restart mass over the same
      // 5-NN edges; seeds not in the graph join in as isolated nodes
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM knn GROUP BY src), " +
        "gnodes AS (SELECT src AS node FROM knn UNION SELECT dst FROM knn), " +
        "seeds AS (SELECT DISTINCT vec_id AS node FROM embeddings WHERE label = 0), " +
        "nodesT AS (SELECT n.node, (s.node IS NOT NULL) AS is_seed " +
        "FROM (SELECT node FROM gnodes UNION SELECT node FROM seeds) n " +
        "LEFT JOIN seeds s ON n.node = s.node), " +
        "ns AS (SELECT count(*) AS n FROM nodesT WHERE is_seed), " +
        "r0 AS (SELECT node, CAST(CAST(CASE WHEN is_seed THEN CAST(1.0 AS DOUBLE) / (SELECT n FROM ns) " +
        "ELSE CAST(0.0 AS DOUBLE) END AS REAL) AS DOUBLE) AS rank FROM nodesT), " +
        (1 to 5).map(pprIterSql).mkString(", ") + " " +
        "SELECT node AS vec_id, round(rank, 8) AS pr FROM r5 ORDER BY vec_id")),
    // similarity-WEIGHTED PageRank: the surfer follows out-edges in
    // proportion to (1+cosine)/2, so strong near-duplicate ties
    // transfer more importance than marginal neighbors
    Cert("emb_pagerank_weighted", (s, d) =>
      graft.ops.PageRank.weightedRanks(
        knnEdgesFor(s, d),
        damping = 0.85, iters = 5)
        .select(col("node").as("vec_id"), round(col("rank"), 8).as("pr"))
        .orderBy(col("vec_id")),
      // the weighted chain: (1+cosine)/2 edge weights, float-quantized
      // per-src weight sums, contribution rank·w/wsum
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst, (CAST(1.0 AS DOUBLE) + sim) / CAST(2.0 AS DOUBLE) AS w " +
        "FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "ws AS (SELECT src, CAST(CAST(sum(w) AS REAL) AS DOUBLE) AS wsum FROM knn GROUP BY src), " +
        "nodes AS (SELECT src AS node FROM knn UNION SELECT dst AS node FROM knn), " +
        "nn AS (SELECT count(*) AS n FROM nodes), " +
        "r0 AS (SELECT node, CAST(CAST(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS REAL) AS DOUBLE) AS rank FROM nodes), " +
        (1 to 5).map(wprIterSql).mkString(", ") + " " +
        "SELECT node AS vec_id, round(rank, 8) AS pr FROM r5 ORDER BY vec_id")),
    // triangle counts + local clustering coefficient over the same
    // 5-NN graph: the per-document redundancy metric (clustering ≈ 1 =
    // dense near-duplicate pocket, ≈ 0 = bridge/outlier content).
    // Degree-ordered orientation bounds the wedge frame by O(m^1.5)
    Cert("emb_graph_clustering", (s, d) =>
      graft.ops.Triangles.perNode(
        knnEdgesFor(s, d).select(col("src"), col("dst")))
        .select(col("node").as("vec_id"), col("degree"),
          col("n_triangles"), col("clustering"))
        .orderBy(col("vec_id")),
      // canonical a<b<c triple join counts each triangle once; corners
      // UNION ALL recovers per-node participation; all-integer until
      // the final coefficient division (explicit DOUBLE casts — bare
      // 2.0 parses as DECIMAL in DuckDB)
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn WHERE src <> dst), " +
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) GROUP BY node), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1 " +
        "JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "corners AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM " +
        "(SELECT x AS node FROM tri UNION ALL SELECT y AS node FROM tri UNION ALL SELECT z AS node FROM tri) GROUP BY node) " +
        "SELECT deg.node AS vec_id, degree, COALESCE(n_triangles, 0) AS n_triangles, " +
        "round(CASE WHEN degree >= 2 THEN CAST(2.0 AS DOUBLE) * COALESCE(n_triangles, 0) / (degree * (degree - 1)) " +
        "ELSE CAST(0.0 AS DOUBLE) END, 6) AS clustering " +
        "FROM deg LEFT JOIN corners USING (node) ORDER BY vec_id")),
    // embedding outlier detection: cosine-to-own-centroid z-scored
    // within each IVF cluster — the far-from-every-cluster junk filter
    // (per-cluster normalization so diffuse topics aren't mass-flagged)
    Cert("emb_cluster_outliers", (s, d) =>
      graft.ops.Ivf.clusterOutliers(Tables.embeddings(s, d), k = 8, iters = 2, topN = 20),
      // same Lloyd chain; per-cluster float-quantized mean/second-moment,
      // z from exact sims, variance-guarded, bounded top-20 by (z, id)
      (s"WITH $ivfSql, " +
        s"oc AS (SELECT a2.vec_id, a2.centroid_id, ${cosSql("a2.ve", "c1.ce")} AS sim " +
        "FROM a2 JOIN c1 USING (centroid_id)), " +
        "ost AS (SELECT centroid_id, CAST(CAST(avg(sim) AS FLOAT) AS DOUBLE) AS mu, " +
        "CAST(CAST(avg(sim*sim) AS FLOAT) AS DOUBLE) AS m2 FROM oc GROUP BY centroid_id), " +
        "oz AS (SELECT vec_id, centroid_id, (sim - mu) / sqrt(m2 - mu*mu) AS z " +
        "FROM oc JOIN ost USING (centroid_id) WHERE m2 - mu*mu > 0) " +
        "SELECT vec_id, centroid_id, round(z, 4) AS z_score FROM oz " +
        "ORDER BY z, vec_id LIMIT 20")),
    // synchronous label propagation over the same 5-NN graph: 5
    // fixed min-label-tie-break rounds (integer counts only), the
    // majority-structure community detector next to components/kcore
    Cert("emb_communities", (s, d) =>
      graft.ops.LabelProp.communities(
        knnEdgesFor(s, d).select(col("src"), col("dst")), rounds = 5)
        .select(col("node").as("vec_id"), col("community"))
        .orderBy(col("vec_id")),
      // the full PageRank chain replayed: brute-force 5-NN edges (the
      // emb_cosine_topk scoring shape), degree/node frames, then five
      // float-quantized damped iterations r1..r5
      // the same knn edge build, symmetrized; 5 synchronous LPA rounds
      // with (count desc, label asc) argmax per node — integers only
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        s"sc AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosSql("a.e", "b.e")} AS sim " +
        "FROM c a CROSS JOIN c b WHERE b.vec_id <> a.vec_id), " +
        "knn AS (SELECT src, dst FROM sc QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
        "sym AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn), " +
        "lp0 AS (SELECT DISTINCT src AS node, src AS label FROM sym), " +
        (1 to 5).map { k =>
          s"lp$k AS MATERIALIZED (SELECT src AS node, nbr_label AS label FROM (" +
            "SELECT e.src, l.label AS nbr_label, count(*) AS n " +
            s"FROM sym e JOIN lp${k - 1} l ON e.dst = l.node GROUP BY e.src, l.label) " +
            "QUALIFY row_number() OVER (PARTITION BY src ORDER BY n DESC, nbr_label) = 1)"
        }.mkString(", ") + " " +
        "SELECT node AS vec_id, CAST(label AS BIGINT) AS community FROM lp5 ORDER BY vec_id")),
    // weighted k-core (s-core) peeling: dense near-duplicate pocket
    // extraction — planted 7-cliques (6 near-copies of every 25th
    // vector) keep ~6 of similarity mass per member and survive τ=4.5;
    // the ~0.3-weight background cascades away. Fixpoint via O(1)
    // driver probes; the oracle replays 5 monotone rounds (≥ depth)
    Cert("emb_weighted_core", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = (1 to 6).map { j =>
        emb.filter(col("vec_id") % 25 === 0).select(
          (col("vec_id") + lit(100000L * j)).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(1.0 + j / 100.0)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      }.reduce(_ unionByName _)
      graft.ops.KCore.weightedCore(
        // input materialized once like the bucketed twin: both sides
        // of the n² similarity cross-join otherwise re-derive the
        // union+synthetic-copies frame
        graft.ops.KCore.knnSimEdges(
          emb.unionByName(copies).localCheckpoint(true), 5), 4.5)
        .select(col("node").as("vec_id"), round(col("wd"), 4).as("core_weight"))
        .orderBy(col("vec_id"))
    },
      // augmented corpus (planted float-quantized copies) → the SAME
      // Lloyd chain → within-cluster ≥0.99 edges → recursive-CTE closure
      // the s-core peel replayed for 5 fixed rounds (monotone → trailing
      // no-ops equal the fixpoint); per-round CTEs MATERIALIZED (each is
      // referenced twice — the lrChainSql lesson), weighted degrees
      // float-quantized before every τ comparison, exactly as in Scala
      {
        def peel(t: Int): String = {
          val p = s"ke${t - 1}"
          s"kd$t AS MATERIALIZED (SELECT node FROM (SELECT node, CAST(CAST(sum(w) AS FLOAT) AS DOUBLE) AS wd " +
            s"FROM (SELECT a AS node, w FROM $p UNION ALL SELECT b, w FROM $p) GROUP BY node) WHERE wd >= 4.5), " +
            s"ke$t AS MATERIALIZED (SELECT e.a, e.b, e.w FROM $p e " +
            s"JOIN kd$t ka ON e.a = ka.node JOIN kd$t kb ON e.b = kb.node)"
        }
        "WITH kaug AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings " +
          "UNION ALL SELECT vec_id + 100000*j, " +
          "list_prepend(CAST(CAST(embedding[1] * (1.0 + j/100.0) AS FLOAT) AS DOUBLE), CAST(embedding AS DOUBLE[])[2:]) " +
          "FROM embeddings, (SELECT unnest([1,2,3,4,5,6]) AS j) WHERE vec_id % 25 = 0), " +
          s"ksc AS (SELECT x.vec_id AS src, y.vec_id AS dst, ${cosSql("x.e", "y.e")} AS sim " +
          "FROM kaug x CROSS JOIN kaug y WHERE y.vec_id <> x.vec_id), " +
          "kknn AS (SELECT src, dst, sim FROM ksc " +
          "QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
          "ke0 AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst) AS b, max(sim) AS w " +
          "FROM kknn GROUP BY 1, 2), " +
          (1 to 5).map(peel).mkString(", ") + " " +
          "SELECT node AS vec_id, round(wd, 4) AS core_weight FROM " +
          "(SELECT node, CAST(CAST(sum(w) AS FLOAT) AS DOUBLE) AS wd " +
          "FROM (SELECT a AS node, w FROM ke5 UNION ALL SELECT b, w FROM ke5) GROUP BY node) " +
          "ORDER BY vec_id"
      }),
    // the AT-SCALE form of the same pipeline: the kNN graph is built
    // from IVF-cluster-local pairs instead of the n² cross join (the
    // ×10 probe measured 206 s brute-force vs seconds bucketed at 24k
    // vectors). The oracle replays Lloyd + within-cluster top-k, so
    // the approximation itself is certified, not hidden
    Cert("emb_weighted_core_bucketed", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = (1 to 6).map { j =>
        emb.filter(col("vec_id") % 25 === 0).select(
          (col("vec_id") + lit(100000L * j)).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) * lit(1.0 + j / 100.0)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      }.reduce(_ unionByName _)
      graft.ops.KCore.weightedCore(
        graft.ops.KCore.knnSimEdgesBucketed(
          emb.unionByName(copies).localCheckpoint(true), 5, kClusters = 8), 4.5)
        .select(col("node").as("vec_id"), round(col("wd"), 4).as("core_weight"))
        .orderBy(col("vec_id"))
    },
      // the bucketed kNN graph's closed form: Lloyd (the shared
      // lloydSql replay, k=8 × 2 iters) restricts candidate pairs to
      // shared clusters; everything after (top-5, max-weight edge fold,
      // τ-core peeling to fixpoint) is identical to emb_weighted_core.
      // 8 peel rounds ≥ the engine's observed fixpoint; peeling a
      // fixpoint is idempotent, so extra rounds are harmless
      {
        def peel(t: Int): String = {
          val p = s"be${t - 1}"
          s"bd$t AS MATERIALIZED (SELECT node FROM (SELECT node, CAST(CAST(sum(w) AS FLOAT) AS DOUBLE) AS wd " +
            s"FROM (SELECT a AS node, w FROM $p UNION ALL SELECT b, w FROM $p) GROUP BY node) WHERE wd >= 4.5), " +
            s"be$t AS MATERIALIZED (SELECT e.a, e.b, e.w FROM $p e " +
            s"JOIN bd$t ka ON e.a = ka.node JOIN bd$t kb ON e.b = kb.node)"
        }
        "WITH baug AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings " +
          "UNION ALL SELECT vec_id + 100000*j, " +
          "list_prepend(CAST(CAST(embedding[1] * (1.0 + j/100.0) AS FLOAT) AS DOUBLE), CAST(embedding AS DOUBLE[])[2:]) " +
          "FROM embeddings, (SELECT unnest([1,2,3,4,5,6]) AS j) WHERE vec_id % 25 = 0), " +
          lloydSql("baug") + ", " +
          s"bsc AS (SELECT x.vec_id AS src, y.vec_id AS dst, ${cosSql("x.ve", "y.ve")} AS sim " +
          "FROM a2 x JOIN a2 y ON x.centroid_id = y.centroid_id AND y.vec_id <> x.vec_id), " +
          "bknn AS (SELECT src, dst, sim FROM bsc " +
          "QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) <= 5), " +
          "be0 AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst) AS b, max(sim) AS w " +
          "FROM bknn GROUP BY 1, 2), " +
          (1 to 8).map(peel).mkString(", ") + " " +
          "SELECT node AS vec_id, round(wd, 4) AS core_weight FROM " +
          "(SELECT node, CAST(CAST(sum(w) AS FLOAT) AS DOUBLE) AS wd " +
          "FROM (SELECT a AS node, w FROM be8 UNION ALL SELECT b, w FROM be8) GROUP BY node) " +
          "ORDER BY vec_id"
      }),
    // product quantization: per-subspace codebook occupancy (certifies
    // the whole train+encode chain — seed, Lloyd update, re-assign)
    Cert("emb_pq_codes", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val dsub = emb.select(size(col("embedding"))).head().getInt(0) / 4
      val (codes, _) = graft.ops.Pq.encode(emb, 4, dsub, 8)
      codes.groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("m"), col("code"))
    },
      (s"WITH $pqSql " +
        "SELECT m, code, CAST(count(*) AS BIGINT) AS n_vectors FROM pcodes " +
        "GROUP BY m, code ORDER BY m, code")),
    // ADC search over codes only: the corpus embeddings are never read
    // at query time — approximate score = Σ_m table[m][code_m]
    Cert("emb_pq_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val dsub = emb.select(size(col("embedding"))).head().getInt(0) / 4
      val (codes, books) = graft.ops.Pq.encode(emb, 4, dsub, 8)
      graft.ops.Pq.adcTopK(codes, books, embQueries(s, d), 4, dsub, 10)
        .orderBy(col("q_id"), col("rank"))
    },
      // ADC: per-query partial-dot table against the codebooks, candidate
      // score = fixed-order sum of the 4 subspace parts (same addition
      // order as the Spark side, so the doubles agree bit-for-bit)
      (s"WITH $pqSql, " +
        "pq AS (SELECT vec_id AS q_id, m, sub AS qsub FROM psub WHERE vec_id < 5), " +
        "ptab AS (SELECT q_id, pq.m, c.code, " +
        "list_sum(list_transform(range(1, len(qsub)+1), i -> qsub[i]*c.ce[i])) AS part " +
        "FROM pq JOIN pc1 c ON pq.m = c.m), " +
        "psc AS (SELECT t.q_id, k.vec_id, " +
        "round(max(CASE WHEN k.m = 0 THEN t.part END) + max(CASE WHEN k.m = 1 THEN t.part END) + " +
        "max(CASE WHEN k.m = 2 THEN t.part END) + max(CASE WHEN k.m = 3 THEN t.part END), 4) AS score " +
        "FROM pcodes k JOIN ptab t ON k.m = t.m AND k.code = t.code " +
        "WHERE k.vec_id <> t.q_id GROUP BY t.q_id, k.vec_id) " +
        "SELECT q_id, vec_id, score, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INT) AS rank " +
        "FROM psc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) <= 10 " +
        "ORDER BY q_id, rank")),
    // the composed IVF-PQ index: IVF routes each query to nprobe=2
    // centroid buckets, PQ's ADC scores ONLY those candidates through
    // their codes — scan fraction nprobe/k, M lookups per candidate.
    // The four index frames come back MATERIALIZED from the trainers
    // (Ivf.index/Pq.encode contract: returns are lineage-cut): in
    // production an ANN index is built once and stored, never
    // re-trained per query — without the cuts each DataFrame reference
    // re-executes the whole Lloyd chain (measured 11.9 s vs ~4 s at
    // sf0.1; same design rule as the dedup-components cache)
    Cert("emb_ivfpq_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val dsub = emb.select(size(col("embedding"))).head().getInt(0) / 4
      val (idx, cents) = graft.ops.Ivf.index(emb, k = 8, iters = 2)
      val (codes, books) = graft.ops.Pq.encode(emb, 4, dsub, 8)
      val cands = graft.ops.Ivf.route(cents, embQueries(s, d), nprobe = 2)
        .join(idx, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"))
      graft.ops.Pq.adcTopKWithin(cands, codes, books, embQueries(s, d), 4, dsub, 10)
        .orderBy(col("q_id"), col("rank"))
    },
      // IVF routing (ir, from the ivfSql index) ∘ PQ scoring (pqSql codes
      // + per-query table): candidates = routed buckets' members, score =
      // fixed-order sum of the 4 subspace parts
      ivfPqTopkSql)
  )

  private[certs] def embQueries(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** LSH bit width shared by the Spark side and the DuckDB oracle: both
    * engines derive scaledBits from the SAME (corpus size, embedding
    * dim) — see the `bitsSql` fragment, which is this formula in SQL —
    * so parity holds at any SF, not just where the knob lands on 4. */
  private[certs] def embBits(s: SparkSession, d: String): Int = {
    val r = Tables.embeddings(s, d)
      .agg(count(lit(1)).as("n"), min(size(col("embedding"))).as("dim")).head()
    Similarity.scaledBitsForDim(r.getLong(0), r.getInt(1))
  }

  /** The scaledBits knob in SQL — MUST mirror `embBits`/`Similarity
    * .scaledBits` exactly (least over dim and 24, greatest with 4,
    * ceil-log2 of n/32) so both engines derive the same LSH bit width
    * from the data at any SF. */
  private val bitsSql =
    "prm AS (SELECT CAST(least(CAST(min(len(embedding)) AS INT), 24, " +
      "greatest(4, CAST(ceil(log2(greatest(1.0, count(*) / 32.0))) AS INT))) AS INT) AS b " +
      "FROM embeddings)"

  /** Sign-bucket assignment with the formula-derived bit width; bit i
    * (1-based) weighs 2^(b-i), matching Similarity.signBucket. */
  private[certs] val bktSql =
    s"$bitsSql, bkt AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, " +
      "list_sum(list_transform(range(1, b + 1), i -> CASE WHEN embedding[i] > 0 " +
      "THEN CAST(power(2, b - i) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS bucket " +
      "FROM embeddings CROSS JOIN prm)"

  /** Sequential-fold cosine over DOUBLE[] — bitwise-matches the Spark
    * HOF fold and the fused native expression (same element order). */
  private[certs] def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x*x))) * sqrt(list_sum(list_transform($b, x -> x*x))))"

  /** One damped PageRank iteration as a CTE, mirroring
    * [[graft.ops.PageRank.ranks]]'s update to the float-quantized bit
    * (the Pca-chain discipline): contribution sum in double, update
    * expression double throughout (decimal literals cast explicitly —
    * DuckDB parses bare 0.85 as DECIMAL, whose exact arithmetic
    * diverges from IEEE before quantization), then CAST to REAL. */
  private def pagerankIterSql(i: Int): String =
    s"r$i AS (SELECT nodes.node, CAST(CAST(" +
      "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn) + " +
      "CAST(0.85 AS DOUBLE) * COALESCE(cb.contrib, 0) AS REAL) AS DOUBLE) AS rank " +
      "FROM nodes LEFT JOIN (SELECT k.dst, sum(r.rank / d.outdeg) AS contrib " +
      s"FROM knn k JOIN r${i - 1} r ON k.src = r.node JOIN deg d ON k.src = d.src " +
      "GROUP BY k.dst) cb ON nodes.node = cb.dst)"

  /** The weighted variant of [[pagerankIterSql]]: contribution is
    * rank·w/wsum against the float-quantized per-src weight sums. */
  private def wprIterSql(i: Int): String =
    s"r$i AS (SELECT nodes.node, CAST(CAST(" +
      "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn) + " +
      "CAST(0.85 AS DOUBLE) * COALESCE(cb.contrib, 0) AS REAL) AS DOUBLE) AS rank " +
      "FROM nodes LEFT JOIN (SELECT k.dst, sum(r.rank * k.w / d.wsum) AS contrib " +
      s"FROM knn k JOIN r${i - 1} r ON k.src = r.node JOIN ws d ON k.src = d.src " +
      "GROUP BY k.dst) cb ON nodes.node = cb.dst)"

  /** The personalized variant of [[pagerankIterSql]]: the restart term
    * is seed-gated (nodesT carries is_seed), everything else mirrors
    * PageRank.loop identically. */
  private def pprIterSql(i: Int): String =
    s"r$i AS (SELECT nodesT.node, CAST(CAST(" +
      "CASE WHEN nodesT.is_seed THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM ns) " +
      "ELSE CAST(0.0 AS DOUBLE) END + " +
      "CAST(0.85 AS DOUBLE) * COALESCE(cb.contrib, 0) AS REAL) AS DOUBLE) AS rank " +
      "FROM nodesT LEFT JOIN (SELECT k.dst, sum(r.rank / d.outdeg) AS contrib " +
      s"FROM knn k JOIN r${i - 1} r ON k.src = r.node JOIN deg d ON k.src = d.src " +
      "GROUP BY k.dst) cb ON nodesT.node = cb.dst)"

  /** Two power iterations from the e₁ seed mirrored in SQL: per-row
    * sequential dot fold, per-dim sums float-quantized (the row-order
    * noise absorber, same as the Lloyd centroid means), dim-ordered
    * norm fold, re-quantized iterate. */
  private val pcaChainSql = {
    def iter(t: Int, prevV: String): String =
      s"d$t AS (SELECT ve, list_sum(list_transform(range(1, len(ve)+1), i -> ve[i]*v[i])) AS dot " +
        s"FROM pe CROSS JOIN $prevV), " +
        s"s$t AS (SELECT dim, CAST(CAST(sum(val*dot) AS FLOAT) AS DOUBLE) AS s FROM " +
        s"(SELECT unnest(range(1, len(ve)+1)) AS dim, unnest(ve) AS val, dot FROM d$t) GROUP BY dim), " +
        s"l$t AS (SELECT list(s ORDER BY dim) AS l FROM s$t), " +
        s"n$t AS (SELECT sqrt(list_sum(list_transform(l, x -> x*x))) AS nrm FROM l$t), " +
        s"v$t AS (SELECT list_transform(l, x -> CAST(CAST(x / nrm AS FLOAT) AS DOUBLE)) AS v FROM l$t CROSS JOIN n$t)"
    "pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings), " +
      "v0 AS (SELECT list_transform(range(1, (SELECT len(ve) FROM pe LIMIT 1) + 1), " +
      "i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS v), " +
      iter(1, "v0") + ", " + iter(2, "v1")
  }

  private val pcaSql =
    s"WITH $pcaChainSql " +
      "SELECT CAST(dim - 1 AS INT) AS dim, round(v[dim], 4) AS loading " +
      "FROM (SELECT unnest(range(1, len(v)+1)) AS dim, v FROM v2) ORDER BY dim"

  /** The two-iteration Lloyd chain over a (vec_id, ve) CTE named `src`
    * — shared by the embeddings-table index (ivfSql) and the augmented
    * corpus of dedup_semantic. Seed from the 8 lowest ids, assign
    * (argmax cosine, centroid-id tiebreak), per-dim mean cast to FLOAT
    * (the quantization updateCentroids applies — also what keeps both
    * engines' aggregation-order double noise from leaking into the
    * comparison), re-assign. `a2` = final assignments, `c1` = the
    * centroids that produced them. */
  private[certs] def lloydSql(src: String): String =
    s"c0 AS (SELECT CAST(vec_id AS INT) AS centroid_id, ve AS ce FROM $src WHERE vec_id < 8), " +
      s"s1 AS (SELECT vec_id, ve, centroid_id, ${cosSql("ve", "ce")} AS sim FROM $src CROSS JOIN c0), " +
      "a1 AS (SELECT vec_id, ve, centroid_id FROM s1 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1), " +
      "cell AS (SELECT centroid_id, unnest(range(0, len(ve))) AS dim, unnest(ve) AS val FROM a1), " +
      "cm AS (SELECT centroid_id, dim, avg(val) AS m FROM cell GROUP BY centroid_id, dim), " +
      "c1 AS (SELECT centroid_id, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY dim) AS ce FROM cm GROUP BY centroid_id), " +
      s"s2 AS (SELECT vec_id, ve, centroid_id, ${cosSql("ve", "ce")} AS sim FROM $src CROSS JOIN c1), " +
      "a2 AS (SELECT vec_id, ve, centroid_id FROM s2 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1)"

  private[certs] val ivfSql =
    "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings), " +
      lloydSql("v")

  /** SQ8 train + encode + reconstruct as a CTE chain ending in
    * `sqrec(vec_id, re)` — shared by emb_sq8_topk (flat ADC) and
    * emb_ivfsq_topk (IVF-routed ADC). */
  private val sq8ChainSql: String =
    "sqc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
      "sqpd AS (SELECT t.i AS pos, e[t.i] AS v FROM sqc, unnest(range(1, len(e)+1)) AS t(i)), " +
      "sqst0 AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM sqpd GROUP BY pos), " +
      "sqst AS (SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs FROM sqst0), " +
      "sqenc AS (SELECT vec_id, list_transform(range(1, len(e)+1), i -> " +
      "CASE WHEN maxs[i] = mins[i] THEN 0 ELSE floor((e[i] - mins[i]) / (maxs[i] - mins[i]) * 255 + 0.5) END) AS codes " +
      "FROM sqc CROSS JOIN sqst), " +
      "sqrec AS (SELECT vec_id, list_transform(range(1, len(codes)+1), i -> " +
      "mins[i] + codes[i] / 255.0 * (maxs[i] - mins[i])) AS re FROM sqenc CROSS JOIN sqst)"

  /** PQ train+encode mirrored in SQL, one Lloyd schedule per subspace
    * (the ivfSql skeleton with an `m` key): slice each vector into 4
    * sub-vectors, seed each subspace's codebook from the 8 lowest ids,
    * assign (argmax cosine, code tiebreak), per-dim float-quantized
    * mean, re-assign. `pcodes` = final (vec_id, m, code), `pc1` = the
    * codebooks that produced it. */
  private[certs] val pqSql =
    "pv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings), " +
      "pd AS (SELECT len(ve) // 4 AS dsub FROM pv LIMIT 1), " +
      "psub AS (SELECT vec_id, m, ve[m*dsub+1:(m+1)*dsub] AS sub " +
      "FROM pv CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) CROSS JOIN pd), " +
      "pc0 AS (SELECT m, CAST(vec_id AS INT) AS code, sub AS ce FROM psub WHERE vec_id < 8), " +
      s"ps1 AS (SELECT s.vec_id, s.m, s.sub, c.code, ${cosSql("s.sub", "c.ce")} AS sim " +
      "FROM psub s JOIN pc0 c ON s.m = c.m), " +
      "pa1 AS (SELECT vec_id, m, sub, code FROM ps1 " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY sim DESC, code) = 1), " +
      "pcell AS (SELECT m, code, unnest(range(0, len(sub))) AS dim, unnest(sub) AS val FROM pa1), " +
      "pcm AS (SELECT m, code, dim, avg(val) AS mn FROM pcell GROUP BY m, code, dim), " +
      "pc1 AS (SELECT m, code, list(CAST(CAST(mn AS FLOAT) AS DOUBLE) ORDER BY dim) AS ce " +
      "FROM pcm GROUP BY m, code), " +
      s"ps2 AS (SELECT s.vec_id, s.m, s.sub, c.code, ${cosSql("s.sub", "c.ce")} AS sim " +
      "FROM psub s JOIN pc1 c ON s.m = c.m), " +
      "pcodes AS (SELECT vec_id, m, code FROM ps2 " +
      "QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY sim DESC, code) = 1)"

  /** IVF routing (ir, from the ivfSql index) ∘ PQ scoring (pqSql codes
    * + per-query table): candidates = routed buckets' members, score =
    * fixed-order sum of the 4 subspace parts. Shared by
    * `emb_ivfpq_topk` (in-memory index) and `store_ann_roundtrip`
    * (parquet-persisted index) — the two paths must answer
    * identically. */
  private[certs] lazy val ivfPqTopkSql: String = ivfPqTopkSqlFiltered("")

  /** `candPred` narrows the candidate posting rows — the oracle form
    * of index-row deletion (store_ann_forget): removed ids can never
    * be candidates, and their codes are only ever joined THROUGH the
    * candidate set, so one predicate models the physical delete. */
  private[certs] def ivfPqTopkSqlFiltered(candPred: String): String =
    s"WITH $ivfSql, $pqSql, " +
      "iq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5), " +
      s"ir AS (SELECT q_id, centroid_id FROM (SELECT q_id, centroid_id, ${cosSql("qe", "ce")} AS csim " +
      "FROM iq CROSS JOIN c1) " +
      "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, centroid_id) <= 2), " +
      "icand AS (SELECT ir.q_id, a2.vec_id FROM ir JOIN a2 USING (centroid_id) " +
      s"WHERE a2.vec_id <> ir.q_id$candPred), " +
      "pq2 AS (SELECT vec_id AS q_id, m, sub AS qsub FROM psub WHERE vec_id < 5), " +
      "ptab2 AS (SELECT q_id, pq2.m, c.code, " +
      "list_sum(list_transform(range(1, len(qsub)+1), i -> qsub[i]*c.ce[i])) AS part " +
      "FROM pq2 JOIN pc1 c ON pq2.m = c.m), " +
      "psc2 AS (SELECT cd.q_id, cd.vec_id, " +
      "round(max(CASE WHEN k.m = 0 THEN t.part END) + max(CASE WHEN k.m = 1 THEN t.part END) + " +
      "max(CASE WHEN k.m = 2 THEN t.part END) + max(CASE WHEN k.m = 3 THEN t.part END), 4) AS score " +
      "FROM icand cd JOIN pcodes k ON cd.vec_id = k.vec_id " +
      "JOIN ptab2 t ON t.q_id = cd.q_id AND t.m = k.m AND t.code = k.code " +
      "GROUP BY cd.q_id, cd.vec_id) " +
      "SELECT q_id, vec_id, score, " +
      "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INT) AS rank " +
      "FROM psc2 QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) <= 10 " +
      "ORDER BY q_id, rank"
}
