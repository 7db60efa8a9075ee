package graft
package certs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.certs.EmbCerts.{bktSql, cosSql, embBits, ivfSql, lloydSql}
import graft.certs.Fixtures.{componentsFor, curationFor, prefixPairsFor}
import graft.certs.TextCerts.shingleSql
import graft.ops.{Dedup, TextOps}
import graft.sources.Tables

/** Deduplication and curation-pipeline certificates. */
object DedupCerts {

  lazy val certs: Seq[Cert] = Seq(
    // chunk-level RAG retrieval with document attribution: the corpus
    // chunked to overlapping 32-token windows, BM25 over CHUNKS (the
    // retrieval unit that fits a context window), then per-(query,doc)
    // best-chunk rollup and top-3 docs — the serve-chunks/attribute-
    // docs shape every RAG stack runs. Chunk keys pack (doc, start)
    // into one BIGINT so the ranker stays key-agnostic
    Cert("pipeline_rag_chunks", (s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      // chunking materialized once: the ranker's tokenize pass and its
      // corpus-count scalar otherwise each re-chunk the whole corpus
      val ch = TextOps.chunks(Tables.documents(s, d), 32, 24)
        .select((col("doc_id") * 1000000L + col("chunk_start")).as("doc_id"),
          col("chunk_text").as("text"))
        .localCheckpoint(true)
      val hits = graft.ops.Bm25.topK(ch, queries, 10)
        .select(col("q_id"), expr("doc_id DIV 1000000").as("src_doc"),
          pmod(col("doc_id"), lit(1000000L)).as("chunk_start"), col("score"))
      val bestChunk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id"), col("src_doc"))
        .orderBy(col("score").desc, col("chunk_start"))
      val docRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("score").desc, col("src_doc"))
      hits.withColumn("__rn", row_number().over(bestChunk))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumn("rank", row_number().over(docRank))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("src_doc").as("doc_id"),
          col("chunk_start"), col("score"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
    },
      // the BM25 chain over the 32/24 chunk corpus (packed BIGINT chunk
      // keys), then best-chunk-per-doc rollup and top-3 attribution
      ("WITH rcq(q_id, q_text) AS (VALUES (0, 'hash join'), (1, 'window scan fast'), " +
        "(2, 'customer order batch'), (3, 'vector merge slow'), (4, 'filter row')), " +
        "rct AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "rcs AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS cs FROM rct), " +
        "rcc AS (SELECT doc_id * 1000000 + cs AS doc_id, " +
        "array_to_string(w[cs + 1 : cs + 32], ' ') AS text FROM rcs WHERE least(32, len(w) - cs) > 0), " +
        "rtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM rcc), " +
        "rtf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM rtok GROUP BY 1, 2), " +
        "rdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM rtf GROUP BY 1), " +
        "rst AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM rcc) AS n, " +
        "(SELECT avg(dl) FROM rdl) AS avgdl), " +
        "rqt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM rcq), " +
        "rpost AS (SELECT rtf.* FROM rtf JOIN (SELECT DISTINCT term FROM rqt) USING (term)), " +
        "rdfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM rpost GROUP BY term), " +
        "rsc AS (SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, " +
        s"round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ${1.2 + 1}) / " +
        "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
        "FROM rqt JOIN rpost USING (term) JOIN rdfq USING (term) JOIN rdl USING (doc_id) " +
        "CROSS JOIN rst GROUP BY 1, 2), " +
        "rhits AS (SELECT q_id, doc_id, score FROM rsc " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) <= 10), " +
        "ratt AS (SELECT q_id, doc_id // 1000000 AS src_doc, doc_id % 1000000 AS chunk_start, score FROM rhits), " +
        "rbest AS (SELECT q_id, src_doc, chunk_start, score FROM ratt " +
        "QUALIFY row_number() OVER (PARTITION BY q_id, src_doc ORDER BY score DESC, chunk_start) = 1) " +
        "SELECT q_id, src_doc AS doc_id, chunk_start, score, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, src_doc) AS INT) AS rank " +
        "FROM rbest QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, src_doc) <= 3 " +
        "ORDER BY q_id, rank")),

    // ----- deduplication (M4)
    Cert("dedup_exact_groups", (s, d) =>
      Dedup.exactDedupGroups(Tables.documents(s, d)).orderBy(col("content_hash")),
      ("SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id, " +
        "CAST(count(*) AS BIGINT) AS n_copies FROM documents GROUP BY 1 ORDER BY content_hash")),
    // incremental ingest: batch = every 5th doc, history = the rest
    Cert("dedup_incremental_new", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalNew(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
        .orderBy(col("content_hash"))
    },
      ("WITH b AS (SELECT md5(text) AS content_hash, doc_id FROM documents WHERE doc_id % 5 = 0), " +
        "h AS (SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 5 <> 0) " +
        "SELECT content_hash, min(doc_id) AS keeper_doc_id, CAST(count(*) AS BIGINT) AS n_copies " +
        "FROM b WHERE content_hash NOT IN (SELECT content_hash FROM h) " +
        "GROUP BY content_hash ORDER BY content_hash")),
    Cert("dedup_jaccard_pairs", (s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d), 20),
      (s"WITH sh0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sh AS (SELECT doc_id, shingle FROM (SELECT doc_id, shingle, " +
        "count(*) OVER (PARTITION BY shingle) AS df FROM sh0) WHERE df <= 100), " +
        "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id), " +
        "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 4) AS jaccard " +
        "FROM common JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id " +
        "ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20")),
    // prefix-filtered set-similarity join (AllPairs/PPJoin): threshold
    // Jaccard pairs with NO df cap — the rare-first prefix equi-join
    // generates candidates, and the brute-force oracle certifies the
    // pigeonhole completeness claim as data
    Cert("dedup_prefix_pairs", (s, d) =>
      prefixPairsFor(s, d).orderBy(col("doc_a"), col("doc_b")),
      // the BRUTE-FORCE exact threshold pairs (no prefix, no cap): a
      // green row means the Spark side's prefix filter lost nothing
      (s"WITH psh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "psz AS (SELECT doc_id, count(*) AS n FROM psh GROUP BY doc_id), " +
        "pov AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM psh x JOIN psh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 4) AS jaccard " +
        "FROM pov JOIN psz za ON doc_a = za.doc_id JOIN psz zb ON doc_b = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8 " +
        "ORDER BY doc_a, doc_b")),
    // directed doc-inside-doc containment — the asymmetric complement
    // to Jaccard (short doc quoted in a long one scores ~1 here)
    Cert("dedup_containment_pairs", (s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), 0.8),
      // directed containment over the SAME df-capped shingle postings:
      // C(a→b) = |Sa ∩ Sb| / |Sa|, only doc_a's size in the denominator
      (s"WITH sh0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sh AS (SELECT doc_id, shingle FROM (SELECT doc_id, shingle, " +
        "count(*) OVER (PARTITION BY shingle) AS df FROM sh0) WHERE df <= 100), " +
        "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY doc_id), " +
        "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_common " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(CAST(n_common AS DOUBLE) / sa.n_shingles, 4) AS containment " +
        "FROM common JOIN sz sa ON doc_a = sa.doc_id " +
        "WHERE CAST(n_common AS DOUBLE) / sa.n_shingles >= 0.8 " +
        "ORDER BY doc_a, doc_b")),
    Cert("dedup_minhash_buckets", (s, d) =>
      Dedup.minhashBuckets(Tables.documents(s, d), 4).orderBy(col("band"), col("signature")),
      // one md5 per shingle; band hash = 8-hex-char rotation of the digest.
      // Docs too short to shingle are dropped on BOTH sides (len > 0 filter
      // here; the lead-window filter in shinglePostings on the Spark side).
      (s"WITH sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b) " +
        "SELECT band, signature, CAST(count(*) AS BIGINT) AS n_docs FROM sig " +
        "GROUP BY band, signature ORDER BY band, signature")),
    // end-to-end dedup DECISION: LSH buckets → connected components →
    // keeper per component (what a training-data pipeline actually runs)
    Cert("dedup_components", (s, d) =>
      componentsFor(s, d).orderBy(col("doc_id")),
      // Connected components as a recursive-CTE transitive closure over the
      // SAME star edges (bucket-min hub ↔ member) the Spark operator builds;
      // min reachable label == converged min-label propagation.
      (s"WITH RECURSIVE sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "star AS (SELECT min(doc_id) OVER (PARTITION BY band, signature) AS src, doc_id AS dst FROM sig), " +
        "edges AS (SELECT DISTINCT src, dst FROM star WHERE src <> dst), " +
        "sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), " +
        "reach AS (SELECT doc_id, doc_id AS lbl FROM documents " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.doc_id) " +
        "SELECT doc_id, min(lbl) AS component_id, doc_id = min(lbl) AS is_keeper " +
        "FROM reach GROUP BY doc_id ORDER BY doc_id")),
    // the two-stage pipeline: LSH candidates, exact-Jaccard verification
    Cert("dedup_minhash_verified", (s, d) =>
      Dedup.minhashVerifiedPairs(Tables.documents(s, d), 20),
      // LSH-candidate generation mirrored exactly; exact Jaccard verify
      // over the FULL (uncapped) shingle sets restricted to candidates.
      (s"WITH sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "ok AS (SELECT band, signature FROM (SELECT band, signature, count(*) AS n " +
        "FROM sig GROUP BY 1, 2) WHERE n <= 50), " +
        "bucketed AS (SELECT sig.doc_id, sig.band, sig.signature FROM sig JOIN ok USING (band, signature)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bucketed x " +
        "JOIN bucketed y ON x.band = y.band AND x.signature = y.signature AND x.doc_id < y.doc_id), " +
        s"sh0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh0 GROUP BY doc_id), " +
        "common AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_common FROM cand " +
        "JOIN sh0 p ON p.doc_id = doc_a JOIN sh0 q ON q.doc_id = doc_b AND q.shingle = p.shingle GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 4) AS jaccard " +
        "FROM common JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id " +
        "ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20")),
    // LSH quality as certified data: complete exact truth at t=0.8
    // (prefix-filter family, the SHARED persisted frame), banded
    // candidates under the production bucket cap, recall =
    // captured/true — emb_ann_recall's discipline
    Cert("dedup_minhash_recall", (s, d) =>
      Dedup.minhashRecall(Tables.documents(s, d), 0.8,
        truth = Some(prefixPairsFor(s, d))),
      // recall of the banded candidate stage against the COMPLETE exact
      // truth: truth = brute-force Jaccard >= 0.8 pairs (the prefix
      // filter's oracle shape), candidates = the replayed sig/cap/bucket
      // pipeline of dedup_minhash_verified — counts and their ratio
      (s"WITH psh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "psz AS (SELECT doc_id, count(*) AS n FROM psh GROUP BY doc_id), " +
        "pov AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM psh x JOIN psh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "truth AS (SELECT doc_a, doc_b FROM pov JOIN psz za ON doc_a = za.doc_id " +
        "JOIN psz zb ON doc_b = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8), " +
        "sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "ok AS (SELECT band, signature FROM (SELECT band, signature, count(*) AS n " +
        "FROM sig GROUP BY 1, 2) WHERE n <= 50), " +
        "bucketed AS (SELECT sig.doc_id, sig.band, sig.signature FROM sig JOIN ok USING (band, signature)), " +
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bucketed x " +
        "JOIN bucketed y ON x.band = y.band AND x.signature = y.signature AND x.doc_id < y.doc_id) " +
        "SELECT CAST(t.n AS BIGINT) AS n_true, CAST(c.n AS BIGINT) AS n_captured, " +
        "round(CAST(c.n AS DOUBLE) / t.n, 4) AS recall " +
        "FROM (SELECT count(*) AS n FROM truth) t, " +
        "(SELECT count(*) AS n FROM truth JOIN cand USING (doc_a, doc_b)) c")),
    // the banding S-curve as data: candidate volume vs recall at 1/2/4
    // bands against the SAME persisted truth — the knob-picking table
    Cert("dedup_banding_tradeoff", (s, d) =>
      Dedup.bandingTradeoff(Tables.documents(s, d), 0.8, Seq(1, 2, 4),
          truth = Some(prefixPairsFor(s, d)))
        .orderBy(col("bands")),
      // three banding arms over the shared brute-force truth, one row each
      (s"WITH psh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "psz AS (SELECT doc_id, count(*) AS n FROM psh GROUP BY doc_id), " +
        "pov AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM psh x JOIN psh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "bt_truth AS (SELECT doc_a, doc_b FROM pov JOIN psz za ON doc_a = za.doc_id " +
        "JOIN psz zb ON doc_b = zb.doc_id " +
        "WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8), " +
        Seq(1, 2, 4).map(bandingArmCtes).mkString(", ") + " " +
        Seq(1, 2, 4).map(bandingArmSelect).mkString(" UNION ALL ") +
        " ORDER BY bands")),
    // terminal op: the deduplicated corpus itself (keepers only),
    // applying the PRECOMPUTED component decisions — a pure semi-join
    Cert("dedup_kept_docs", (s, d) =>
      Dedup.deduplicate(Tables.documents(s, d), componentsFor(s, d))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")),
      // keepers = docs whose id equals their component min (same recursive
      // closure as dedup_components), semi-joined back onto the corpus
      (s"WITH RECURSIVE sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "star AS (SELECT min(doc_id) OVER (PARTITION BY band, signature) AS src, doc_id AS dst FROM sig), " +
        "edges AS (SELECT DISTINCT src, dst FROM star WHERE src <> dst), " +
        "sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), " +
        "reach AS (SELECT doc_id, doc_id AS lbl FROM documents " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.doc_id), " +
        "keep AS (SELECT doc_id FROM reach GROUP BY doc_id HAVING doc_id = min(lbl)) " +
        "SELECT d.doc_id, lang, n_chars FROM documents d JOIN keep USING (doc_id) ORDER BY doc_id")),
    // dedup with a QUALITY policy: per near-dup component keep the
    // highest-quality member (ties → min id) — "of these duplicates,
    // keep the best copy", riding the SAME persisted component
    // decisions as dedup_kept_docs
    Cert("dedup_best_kept_docs", (s, d) => {
      val docs = Tables.documents(s, d)
      val score = TextOps.qualityScores(docs)
        .select(col("doc_id"), col("quality_score"))
      Dedup.deduplicateBest(
          docs.join(score, Seq("doc_id")), componentsFor(s, d), col("quality_score"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("quality_score"))
        .orderBy(col("doc_id"))
    },
      // same recursive closure as dedup_kept_docs, but the keeper per
      // component is the quality argmax (ties → min id)
      (s"WITH RECURSIVE sig AS (SELECT doc_id, b.band, " +
        "list_min(list_transform(shingles, s -> " +
        "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
        s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
        "star AS (SELECT min(doc_id) OVER (PARTITION BY band, signature) AS src, doc_id AS dst FROM sig), " +
        "edges AS (SELECT DISTINCT src, dst FROM star WHERE src <> dst), " +
        "sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), " +
        "reach AS (SELECT doc_id, doc_id AS lbl FROM documents " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.doc_id), " +
        "comp AS (SELECT doc_id, min(lbl) AS cid FROM reach GROUP BY doc_id), " +
        "qsc AS (SELECT doc_id, " +
        "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) AS quality_score " +
        "FROM documents) " +
        "SELECT d.doc_id, lang, n_chars, quality_score " +
        "FROM documents d JOIN comp USING (doc_id) JOIN qsc USING (doc_id) " +
        "QUALIFY row_number() OVER (PARTITION BY cid ORDER BY quality_score DESC, d.doc_id) = 1 " +
        "ORDER BY d.doc_id")),
    // the whole curation recipe as ONE certified DAG: split → quality
    // → exact dedup → LSH near-dedup → benchmark decontamination. The
    // funnel counts certify every stage BOUNDARY at once (a wrong
    // threshold, digest, band rotation or gram width moves some count)
    Cert("pipeline_curation_counts", (s, d) =>
      curationFor(s, d)._1.orderBy(col("stage_idx")),
      // the composed funnel: each stage count reads the previous stage's
      // survivor CTE (the standalone oracles chained end-to-end)
      (s"$curationCtes " +
        "SELECT * FROM (" +
        "SELECT 0 AS stage_idx, 'corpus' AS stage, CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs " +
        "UNION ALL SELECT 1, 'train_split', CAST((SELECT count(*) FROM cur_train) AS BIGINT) " +
        "UNION ALL SELECT 2, 'quality', CAST((SELECT count(*) FROM cur_qd) AS BIGINT) " +
        "UNION ALL SELECT 3, 'exact_dedup', CAST((SELECT count(*) FROM cur_ed) AS BIGINT) " +
        "UNION ALL SELECT 4, 'near_dedup', CAST((SELECT count(*) FROM cur_nd) AS BIGINT) " +
        "UNION ALL SELECT 5, 'decontaminated', CAST((SELECT count(*) FROM cur_fin) AS BIGINT)" +
        ") ORDER BY stage_idx")),
    // ...and the curated corpus itself — the output manifest a trainer
    // consumes, every stage's semantics replayed by the oracle chain
    Cert("pipeline_curation_docs", (s, d) =>
      curationFor(s, d)._2
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")),
      (s"$curationCtes " +
        "SELECT doc_id, lang, n_chars FROM cur_fin ORDER BY doc_id")),
    // the curated ARTIFACT consumed by the next pipeline stage: chunk
    // to 32-token windows, pack into ≤128-token sequences, roll up a
    // per-language shard manifest (docs, sequences, tokens) — the
    // corpus → curation → tokenization → manifest chain a pretrain
    // data build actually ships, certified end-to-end in one oracle
    // the explainability record behind the funnel: every corpus doc
    // labeled kept / first-dropping-stage; the oracle re-derives the
    // label by membership over the same stage CTEs
    Cert("pipeline_curation_audit", (s, d) =>
      curationFor(s, d)._3.orderBy(col("doc_id")),
      (s"$curationCtes " +
        "SELECT d.doc_id, " +
        "CASE WHEN f.doc_id IS NOT NULL THEN 'kept' " +
        "WHEN t.doc_id IS NULL THEN 'benchmark' " +
        "WHEN q.doc_id IS NULL THEN 'quality' " +
        "WHEN e.doc_id IS NULL THEN 'exact_dup' " +
        "WHEN n.doc_id IS NULL THEN 'near_dup' " +
        "ELSE 'contaminated' END AS disposition " +
        "FROM documents d " +
        "LEFT JOIN cur_train t USING (doc_id) " +
        "LEFT JOIN cur_qd q USING (doc_id) " +
        "LEFT JOIN cur_ed e USING (doc_id) " +
        "LEFT JOIN cur_nd n USING (doc_id) " +
        "LEFT JOIN cur_fin f USING (doc_id) " +
        "ORDER BY d.doc_id")),
    // the funnel in TOKENS — the unit a training budget is written in;
    // derived from the persisted audit (a doc survives stage k iff its
    // first-dropping stage is later), no pipeline rebuild
    Cert("pipeline_curation_tokens", (s, d) => {
      val j = curationFor(s, d)._3.join(
        Tables.documents(s, d).select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        Seq("doc_id"))
      def stage(idx: Int, name: String, pred: Column) =
        j.filter(pred)
          .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("sum_tokens"))
          .select(lit(idx).as("stage_idx"), lit(name).as("stage"), col("sum_tokens"))
      stage(0, "corpus", lit(true))
        .unionByName(stage(1, "train_split", col("disposition") =!= "benchmark"))
        .unionByName(stage(2, "quality",
          !col("disposition").isin("benchmark", "quality")))
        .unionByName(stage(3, "exact_dedup",
          !col("disposition").isin("benchmark", "quality", "exact_dup")))
        .unionByName(stage(4, "near_dedup",
          !col("disposition").isin("benchmark", "quality", "exact_dup", "near_dup")))
        .unionByName(stage(5, "decontaminated", col("disposition") === "kept"))
        .orderBy(col("stage_idx"))
    },
      // per-stage whitespace-token sums over the same survivor CTEs
      (s"$curationCtes " +
        "SELECT * FROM (" +
        "SELECT 0 AS stage_idx, 'corpus' AS stage, CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM documents), 0) AS BIGINT) AS sum_tokens " +
        "UNION ALL SELECT 1, 'train_split', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_train), 0) AS BIGINT) " +
        "UNION ALL SELECT 2, 'quality', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_qd), 0) AS BIGINT) " +
        "UNION ALL SELECT 3, 'exact_dedup', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_ed), 0) AS BIGINT) " +
        "UNION ALL SELECT 4, 'near_dedup', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_nd), 0) AS BIGINT) " +
        "UNION ALL SELECT 5, 'decontaminated', CAST(coalesce((SELECT sum(len(string_split(text, ' '))) FROM cur_fin), 0) AS BIGINT)" +
        ") ORDER BY stage_idx")),
    Cert("pipeline_pack_manifest", (s, d) => {
      val fin = curationFor(s, d)._2
      TextOps.packChunks(TextOps.chunks(fin, 32, 32), 128)
        .join(fin.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_seqs"),
          sum(col("seq_tokens")).as("sum_tokens"))
        .orderBy(col("lang"))
    },
      // the packed-sequence manifest over the curated corpus — the
      // text_packed_sequences chunk/pack CTEs re-rooted on cur_fin, then
      // rolled up per language (window sum(INT) is HUGEINT in DuckDB:
      // cast at every output edge)
      (s"$curationCtes, " +
        "pk_t AS (SELECT doc_id, string_split(text, ' ') AS w FROM cur_fin), " +
        "pk_s AS (SELECT doc_id, w, unnest(range(0, len(w), 32)) AS cs FROM pk_t), " +
        "pk_c AS (SELECT doc_id, CAST(cs AS INT) AS chunk_start, " +
        "CAST(least(32, len(w) - cs) AS INT) AS n_chunk_tokens FROM pk_s WHERE least(32, len(w) - cs) > 0), " +
        "pk_x AS (SELECT doc_id, n_chunk_tokens, " +
        "sum(n_chunk_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_start) - n_chunk_tokens AS cum_before FROM pk_c), " +
        "pk_p AS (SELECT doc_id, CAST(floor(CAST(cum_before AS DOUBLE) / 128.0) AS BIGINT) AS seq_id, " +
        "CAST(sum(n_chunk_tokens) AS BIGINT) AS seq_tokens FROM pk_x GROUP BY 1, 2) " +
        "SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(count(*) AS BIGINT) AS n_seqs, CAST(sum(seq_tokens) AS BIGINT) AS sum_tokens " +
        "FROM pk_p JOIN cur_fin USING (doc_id) GROUP BY lang ORDER BY lang")),
    // bucket bits scale with corpus size AND are clamped to the embedding
    // dim (500 vecs → 4 bits at sf0.01, 2000 vecs → 6 bits at sf0.1, 4×
    // fewer candidate pairs). The oracle derives the SAME bit count in
    // SQL, so the pair stays hash-green at any SF. The agg is parquet-
    // metadata-cheap and keeps the knob corpus-proportional.
    Cert("dedup_embedding_cosine", (s, d) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, d), 20, embBits(s, d)),
      (s"WITH $bktSql " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(" +
        "list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i]*b.e[i])) / " +
        "(sqrt(list_sum(list_transform(a.e, x -> x*x))) * sqrt(list_sum(list_transform(b.e, x -> x*x)))), 4) AS sim " +
        "FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id " +
        "ORDER BY sim DESC, vec_a, vec_b LIMIT 20")),
    // centroid-bucketed near-dup: same join shape as the sign-bucket
    // variant with learned (data-adaptive) buckets
    Cert("dedup_embedding_ivf", (s, d) =>
      graft.ops.Ivf.nearDupPairs(Tables.embeddings(s, d), 20, k = 8, iters = 2),
      // same final assignments (a2) as emb_ivf_assign/topk; within-bucket
      // pairs scored with the sequential-fold cosine
      (s"WITH $ivfSql " +
        s"SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, round(${cosSql("x.ve", "y.ve")}, 4) AS sim " +
        "FROM a2 x JOIN a2 y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id " +
        "ORDER BY sim DESC, vec_a, vec_b LIMIT 20")),
    // SemDeDup: semantic dedup DECISIONS over an augmented corpus with
    // planted float-quantized near-copies (every 5th vector, dim-1
    // ×1.01) — cluster (IVF), edge within-cluster pairs ≥ 0.99 cosine,
    // connected components, keeper = min vec_id. The oracle replays
    // augmentation, clustering, and the transitive closure
    Cert("dedup_semantic", (s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = emb.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + lit(100000L)).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1) * lit(1.01)).cast("float")),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1)).as("embedding"))
      // materialize the augmented corpus ONCE: the Lloyd chain and the
      // final left join would otherwise re-run the union + array
      // surgery per pass (measured ~15% of warm runtime; the
      // emb_ivfpq_topk build-once discipline)
      val aug = emb.unionByName(copies).localCheckpoint(true)
      graft.ops.Ivf.semanticComponents(aug, 0.99, k = 8, iters = 2)
        .orderBy(col("vec_id"))
    },
      ("WITH RECURSIVE aug AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings " +
        "UNION ALL SELECT vec_id + 100000, " +
        "list_prepend(CAST(CAST(embedding[1] * 1.01 AS FLOAT) AS DOUBLE), CAST(embedding AS DOUBLE[])[2:]) " +
        "FROM embeddings WHERE vec_id % 5 = 0), " +
        lloydSql("aug") + ", " +
        "sedges AS (SELECT x.vec_id AS src, y.vec_id AS dst FROM a2 x JOIN a2 y " +
        "ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id " +
        s"AND round(${cosSql("x.ve", "y.ve")}, 4) >= 0.99), " +
        "sym AS (SELECT src, dst FROM sedges UNION SELECT dst, src FROM sedges), " +
        "reach AS (SELECT vec_id, vec_id AS lbl FROM aug " +
        "UNION SELECT e.dst, r.lbl FROM sym e JOIN reach r ON e.src = r.vec_id) " +
        "SELECT vec_id, min(lbl) AS component_id, vec_id = min(lbl) AS is_keeper " +
        "FROM reach GROUP BY vec_id ORDER BY vec_id")),

    // ----- SimHash (custom typed Aggregator; md5-derived token hash, so
    //       the bit-vote aggregation IS oracle-checkable — see oracleSql)
    Cert("dedup_simhash", (s, d) =>
      graft.ops.Simhash.signatures(Tables.documents(s, d)).orderBy(col("doc_id")),
      // SimHash bit-vote re-derived from the md5 hex digest (simhashSigSql)
      s"WITH $simhashSigSql SELECT doc_id, simhash FROM sig ORDER BY doc_id"),
    // Hamming ≤ 3 near-dup pairing over 4×16-bit signature chunks —
    // banded candidates are provably complete at this threshold, so the
    // brute-force DuckDB oracle checks recall, not just precision
    Cert("dedup_simhash_pairs", (s, d) =>
      graft.ops.Simhash.hammingPairs(Tables.documents(s, d), 3)
        .orderBy(col("doc_a"), col("doc_b")),
      // Brute-force all-pairs Hamming ≤ 3 — deliberately NOT banded: at
      // this threshold the Spark side's 4-chunk banding is provably
      // complete (pigeonhole), so brute force checks the LSH loses nothing.
      (s"WITH $simhashSigSql " +
        "SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, " +
        "CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming " +
        "FROM sig x JOIN sig y ON x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.simhash, y.simhash)) <= 3 ORDER BY doc_a, doc_b"))
  )

  /** One banding arm: signatures at `b` bands, bucket cap, distinct
    * candidate pairs — names suffixed so the arms coexist in one WITH. */
  private def bandingArmCtes(b: Int): String = {
    val bands = (0 until b).mkString(", ")
    s"sig_b$b AS (SELECT doc_id, b.band, " +
      "list_min(list_transform(shingles, s -> " +
      "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
      s"FROM (SELECT * FROM ($shingleSql) WHERE len(shingles) > 0) " +
      s"CROSS JOIN (SELECT unnest([$bands]) AS band) b), " +
      s"ok_b$b AS (SELECT band, signature FROM (SELECT band, signature, count(*) AS n " +
      s"FROM sig_b$b GROUP BY 1, 2) WHERE n <= 50), " +
      s"bk_b$b AS (SELECT sig_b$b.doc_id, sig_b$b.band, sig_b$b.signature " +
      s"FROM sig_b$b JOIN ok_b$b USING (band, signature)), " +
      s"cand_b$b AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bk_b$b x " +
      s"JOIN bk_b$b y ON x.band = y.band AND x.signature = y.signature AND x.doc_id < y.doc_id)"
  }

  private def bandingArmSelect(b: Int): String = {
    val cap = s"(SELECT CAST(count(*) AS BIGINT) FROM bt_truth t WHERE EXISTS " +
      s"(SELECT 1 FROM cand_b$b c WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))"
    s"SELECT $b AS bands, (SELECT CAST(count(*) AS BIGINT) FROM cand_b$b) AS n_candidates, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM bt_truth) AS n_true, " +
      s"$cap AS n_captured, " +
      s"round(CAST($cap AS DOUBLE) / (SELECT count(*) FROM bt_truth), 4) AS recall"
  }

  /** 5-gram shingle list over a named doc CTE — the decontamination
    * gram width (range is end-exclusive: i = 1 .. len-4). */
  private[certs] def fiveGramSql(src: String, withId: Boolean) = {
    val id = if (withId) "doc_id, " else ""
    s"SELECT DISTINCT ${id}unnest(CASE WHEN len(w) >= 5 THEN " +
      "list_transform(range(1, len(w)-3), i -> " +
      "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) " +
      "ELSE CAST([] AS VARCHAR[]) END) AS shingle " +
      s"FROM (SELECT ${id}string_split(text, ' ') AS w FROM $src)"
  }

  /** The curation pipeline oracle: the standalone certified fragments
    * (text_sample_split, text_quality_filter, dedup_exact_groups,
    * dedup_kept_docs, text_ngram_decontam) composed into one CTE
    * chain, each stage reading the previous stage's survivors. */
  private val curationCtes =
    "WITH RECURSIVE " +
      // stage 1: deterministic md5-bucket split; heldout = benchmark
      s"cur_split AS (SELECT doc_id, CASE WHEN substring(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8) " +
      s"< '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train' ELSE 'heldout' END AS split FROM documents), " +
      "cur_train AS (SELECT d.* FROM documents d JOIN cur_split USING (doc_id) WHERE split = 'train'), " +
      "cur_bench AS (SELECT d.* FROM documents d JOIN cur_split USING (doc_id) WHERE split = 'heldout'), " +
      // stage 2: quality filter, histogram threshold over the TRAIN side
      "cur_q AS (SELECT doc_id, " +
      "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
      "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) AS quality_score " +
      "FROM cur_train), " +
      "cur_hist AS (SELECT quality_score, count(*) AS cnt FROM cur_q GROUP BY 1), " +
      "cur_cum AS (SELECT quality_score, sum(cnt) OVER (ORDER BY quality_score DESC) AS cum_ge, " +
      "sum(cnt) OVER () AS n_total FROM cur_hist), " +
      "cur_thr AS (SELECT max(quality_score) AS q_threshold FROM cur_cum " +
      "WHERE CAST(cum_ge AS DOUBLE) >= CAST(n_total AS DOUBLE) * 0.5), " +
      "cur_qd AS (SELECT t.* FROM cur_train t JOIN cur_q USING (doc_id) CROSS JOIN cur_thr " +
      "WHERE cur_q.quality_score >= cur_thr.q_threshold), " +
      // stage 3: exact dedup — keeper = min doc_id per content digest
      "cur_ek AS (SELECT min(doc_id) AS doc_id FROM cur_qd GROUP BY md5(text)), " +
      "cur_ed AS (SELECT cur_qd.* FROM cur_qd JOIN cur_ek USING (doc_id)), " +
      // stage 4: LSH banding + component closure over survivors
      "cur_esh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN " +
      "list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) " +
      "ELSE CAST([] AS VARCHAR[]) END AS shingles " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM cur_ed)), " +
      "cur_sig AS (SELECT doc_id, b.band, " +
      "list_min(list_transform(shingles, s -> " +
      "substr(md5(s), b.band*8 + 1, 32 - b.band*8) || substr(md5(s), 1, b.band*8))) AS signature " +
      "FROM (SELECT * FROM cur_esh WHERE len(shingles) > 0) " +
      "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b), " +
      "cur_star AS (SELECT min(doc_id) OVER (PARTITION BY band, signature) AS src, doc_id AS dst FROM cur_sig), " +
      "cur_edges AS (SELECT DISTINCT src, dst FROM cur_star WHERE src <> dst), " +
      "cur_sym AS (SELECT src, dst FROM cur_edges UNION SELECT dst, src FROM cur_edges), " +
      "cur_reach AS (SELECT doc_id, doc_id AS lbl FROM cur_ed " +
      "UNION SELECT e.dst, r.lbl FROM cur_sym e JOIN cur_reach r ON e.src = r.doc_id), " +
      "cur_keep AS (SELECT doc_id FROM cur_reach GROUP BY doc_id HAVING doc_id = min(lbl)), " +
      "cur_nd AS (SELECT cur_ed.* FROM cur_ed JOIN cur_keep USING (doc_id)), " +
      // stage 5: drop survivors sharing any 5-gram with the benchmark
      s"cur_bg AS (${fiveGramSql("cur_bench", withId = false)}), " +
      s"cur_ng AS (${fiveGramSql("cur_nd", withId = true)}), " +
      "cur_contam AS (SELECT DISTINCT cur_ng.doc_id FROM cur_ng JOIN cur_bg USING (shingle)), " +
      "cur_fin AS (SELECT * FROM cur_nd WHERE doc_id NOT IN (SELECT doc_id FROM cur_contam))"

  /** SimHash signatures in SQL — the token hash is the first 16 hex
    * chars of md5 as a big-endian 64-bit value, so bit i of the hash is
    * bit (i%4) of hex nibble at 1-based position 16 - i//4. Explode 64
    * bit positions per token, signed-sum the votes, assemble the
    * signature as HUGEINT, two's-complement down to BIGINT. Yields
    * `sig(doc_id, simhash)`. */
  private val simhashSigSql =
    "w AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents), " +
      "b AS (SELECT doc_id, h, unnest(range(0, 64)) AS i FROM w), " +
      "v AS (SELECT doc_id, i, sum(CASE WHEN " +
      "((strpos('0123456789abcdef', substr(h, CAST(16 - i // 4 AS INT), 1)) - 1) " +
      "// CAST(power(2, i % 4) AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS vote " +
      "FROM b GROUP BY doc_id, i), " +
      "sraw AS (SELECT doc_id, COALESCE(sum(CASE WHEN vote > 0 THEN CAST(power(2, i) AS HUGEINT) " +
      "ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS raw FROM v GROUP BY doc_id), " +
      "sig AS (SELECT doc_id, CAST(raw - CASE WHEN raw >= 9223372036854775808 " +
      "THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS simhash FROM sraw)"
}
