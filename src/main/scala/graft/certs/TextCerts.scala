package graft
package certs

import org.apache.spark.sql.functions._

import graft.certs.EmbCerts.{cosSql, embQueries}
import graft.certs.Fixtures.unigramTableFor
import graft.ops.{Dedup, Sampling, Similarity, TextOps}
import graft.sources.Tables

/** Text and LLM-data certificates: normalization, tokenization, sampling,
  * sketches and retrieval. */
object TextCerts {

  lazy val certs: Seq[Cert] = Seq(
    Cert("text_array_ops", (s, d) =>
      graft.ops.TextOps.withTokens(Tables.documents(s, d)).select(
        col("doc_id"),
        element_at(col("words"), 1).as("first_word"),
        element_at(col("words"), -1).as("last_word"),
        size(col("words")).as("n_tokens"),
        array_min(col("words")).as("min_word"),
        concat_ws("-", slice(col("words"), 1, 3)).as("prefix3"),
        array_contains(col("words"), "the").as("has_the"),
        coalesce(array_position(col("words"), "the"), lit(0L)).as("the_pos"))
        .orderBy(col("doc_id")),
      ("SELECT doc_id, w[1] AS first_word, w[-1] AS last_word, " +
        "CAST(len(w) AS INT) AS n_tokens, list_min(w) AS min_word, " +
        "array_to_string(w[1:3], '-') AS prefix3, " +
        "list_contains(w, 'the') AS has_the, " +
        "CAST(COALESCE(list_position(w, 'the'), 0) AS BIGINT) AS the_pos " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) " +
        "ORDER BY doc_id")),

    // ----- text analysis (M4)
    Cert("text_token_stats", (s, d) =>
      TextOps.tokenStats(Tables.documents(s, d)).orderBy(col("doc_id")),
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "CAST(length(text) AS INT) AS n_chars, " +
        "round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len " +
        "FROM documents ORDER BY doc_id")),
    // normalization ahead of tokenize/dedup: case fold, strip
    // invisibles, collapse whitespace — certified via the stats+hash
    // of the normalized text
    Cert("text_normalized_stats", (s, d) =>
      TextOps.normalizedStats(Tables.documents(s, d)).orderBy(col("doc_id")),
      // same normalization chain; RE2 spells the invisibles \x{200B},
      // Java regex \\u200B; explicit whitespace class on both engines
      // (bare \s membership differs between them); 'g' flag — DuckDB
      // regexp_replace is first-match-only by default, Spark's is global
      ("SELECT doc_id, CAST(length(nt) AS INT) AS n_chars_norm, " +
        "CAST(len(string_split(nt, ' ')) AS INT) AS n_tokens_norm, md5(nt) AS norm_hash " +
        "FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{00AD}]', '', 'g'), " +
        "'[ \\t\\n\\r\\f]+', ' ', 'g')) AS nt FROM documents) ORDER BY doc_id")),
    // PII redaction: deterministic synthetic PII is injected per doc_id
    // (documents.text itself carries none — without injection the scrub
    // would certify trivially on all-zero counts), then scrubbed; the
    // oracle re-runs the same injection + RE2-parity patterns in DuckDB
    Cert("text_pii_scrub", (s, d) => {
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" call 555-867-5309")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" from 192.168.1.42")).otherwise(lit("")))
          .as("text"))
      seeded
        .select(col("doc_id"),
          TextOps.piiCounts(col("text")).as("c"),
          md5(TextOps.scrubPii(col("text"))).as("scrub_hash"))
        .select(col("doc_id"), col("c.n_emails").as("n_emails"),
          col("c.n_phones").as("n_phones"), col("c.n_ips").as("n_ips"),
          col("scrub_hash"))
        .orderBy(col("doc_id"))
    },
      // same injection, same patterns (Java regex == RE2 for this subset:
      // explicit classes, bounded repeats, \b, no lookaround); 'g' flag as
      // above; len() is BIGINT in DuckDB, Spark's size() is INT
      ("WITH seeded AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN ' from 192.168.1.42' ELSE '' END AS text FROM documents) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phones, " +
        "CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ips, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')) AS scrub_hash " +
        "FROM seeded ORDER BY doc_id")),
    Cert("text_term_freq", (s, d) =>
      TextOps.termFrequency(Tables.documents(s, d), 50),
      ("SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
        "GROUP BY word ORDER BY freq DESC, word LIMIT 50")),
    // count-min sketch (d=4, w=1024): the exact top-20 terms point-
    // queried against the bounded-cardinality counter table; est ≥
    // exact always, equality wherever no bucket collision landed
    Cert("text_cms_topk", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Cms.estimate(
          graft.ops.Cms.sketch(docs, 4, 1024),
          TextOps.termFrequency(docs, 20), 4, 1024)
        .orderBy(col("freq").desc, col("word"))
    },
      // sketch cells = md5-derived (row, bucket) votes; estimate = min
      // over the 4 rows' counters for each top-20 term
      cmsTopkSql),
    // exact percentiles by histogram narrowing — no global sort, no
    // approx sketch; certified against direct rank selection
    Cert("text_exact_percentiles", (s, d) =>
      graft.ops.Quantiles.exactPercentiles(
          Tables.documents(s, d), "n_chars", Seq(0.5, 0.9, 0.99))
        .orderBy(col("p")),
      // ground truth = the rank element itself (value at ceil(p·n),
      // 1-based ascending), selected directly
      ("WITH t AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars IS NOT NULL), " +
        "n AS (SELECT count(*) AS n FROM t), " +
        "r AS (SELECT CAST(p AS DOUBLE) AS p, CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT) AS rk " +
        "FROM (VALUES (0.5), (0.9), (0.99)) v(p) CROSS JOIN n), " +
        "s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t) " +
        "SELECT p, v AS value FROM r JOIN s ON s.rn = r.rk ORDER BY p")),
    // BM25 retrieval over the relational inverted index: five literal
    // queries, postings restricted to query terms before any scoring,
    // rounded-score ordering so rank ties resolve identically in both
    // engines
    Cert("text_bm25_topk", (s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      graft.ops.Bm25.topK(Tables.documents(s, d), queries, 10)
        .orderBy(col("q_id"), col("rank"))
    },
      // BM25 replayed relationally: same idf form, same double-op order,
      // the (k1+1) constant interpolated from the identical Scala double
      bm25TopkSql),
    // hybrid retrieval: RRF-fuse the lexical (BM25) and vector
    // (embedding-cosine) rankers over the shared 0..4 query-id space —
    // score-calibration-free, each system contributes 1/(60+rank).
    // Both inputs are k-bounded per query, so fusion cost is
    // corpus-size-independent
    Cert("text_hybrid_rrf", (s, d) => {
      import s.implicits._
      val queries = Seq(
        (0L, "hash join"), (1L, "window scan fast"), (2L, "customer order batch"),
        (3L, "vector merge slow"), (4L, "filter row")).toDF("q_id", "q_text")
      val lexical = graft.ops.Bm25.topK(Tables.documents(s, d), queries, 10)
        .select(col("q_id"), col("doc_id"), col("rank"))
      val vector = Similarity.bruteForceTopK(Tables.embeddings(s, d), embQueries(s, d), 10)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.ops.Fusion.rrf(Seq(lexical, vector), 10)
        .orderBy(col("q_id"), col("rank"))
    },
      // RRF fusion of the BM25 chain and the cosine chain: both rankers
      // replayed to their (q_id, doc_id, rank) lists, fused as
      // 1/(60+rank) terms summed in system order (bit-identical IEEE —
      // ranks are ints, one division per term, fixed fold order)
      ("WITH q(q_id, q_text) AS (VALUES (0, 'hash join'), (1, 'window scan fast'), " +
        "(2, 'customer order batch'), (3, 'vector merge slow'), (4, 'filter row')), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), " +
        "st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n, " +
        "(SELECT avg(dl) FROM dl) AS avgdl), " +
        "qt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM q), " +
        "post AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM qt) USING (term)), " +
        "dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term), " +
        "sc AS (SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, " +
        s"round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ${1.2 + 1}) / " +
        "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
        "FROM qt JOIN post USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) " +
        "CROSS JOIN st GROUP BY 1, 2), " +
        "bm AS (SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INT) AS rank " +
        "FROM sc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) <= 10), " +
        "ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "qe AS (SELECT vec_id AS q_id, e AS qv FROM ce WHERE vec_id < 5), " +
        s"ss AS (SELECT q_id, c.vec_id, round(${cosSql("qv", "c.e")}, 4) AS sim " +
        "FROM qe CROSS JOIN ce c WHERE c.vec_id <> q_id), " +
        "cs AS (SELECT q_id, vec_id AS doc_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT) AS rank " +
        "FROM ss QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) <= 10), " +
        "fused AS (SELECT COALESCE(bm.q_id, cs.q_id) AS q_id, COALESCE(bm.doc_id, cs.doc_id) AS doc_id, " +
        "COALESCE(CAST(1.0 AS DOUBLE) / (60 + bm.rank), 0) + COALESCE(CAST(1.0 AS DOUBLE) / (60 + cs.rank), 0) AS score " +
        "FROM bm FULL JOIN cs ON bm.q_id = cs.q_id AND bm.doc_id = cs.doc_id) " +
        "SELECT q_id, doc_id, round(score, 6) AS rrf, " +
        "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INT) AS rank " +
        "FROM fused QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) <= 10 " +
        "ORDER BY q_id, rank")),
    // HLL distinct-count sketch (p=9, 512 registers): per-lang
    // vocabulary estimate from the bounded register frame — the
    // estimate is bit-deterministic (all partial sums exact doubles),
    // so the oracle replays sketch AND estimate and hash-matches
    Cert("text_hll_vocab", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      graft.ops.Hll.estimate(
          graft.ops.Hll.sketch(tok, Seq("lang"), col("word"), 9),
          Seq("lang"), 9)
        .orderBy(col("lang"))
    },
      // HLL: register = top 9 bits of the 32-bit md5 hash, rho = first
      // 1-bit position in the low 23 (ltrim-of-bin, integer-exact);
      // estimate = bias-corrected harmonic mean + linear-counting branch,
      // every double exact so the rounded value matches bit-for-bit
      hllVocabSql),
    // the NATIVE HLL aggregate (TypedImperativeAggregate, §2.7 UDAF
    // rung): one pass, 512 bytes of state per group, composable inside
    // any groupBy — must answer bit-identically to the register-frame
    // formulation above, so it shares text_hll_vocab's oracle verbatim
    // (same md5 hash, same rho, same estimate arithmetic, same
    // rounding; cross-certified in SketchAggSpec)
    Cert("text_hll_native", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      tok.groupBy(col("lang"))
        .agg(graft.functions.HllDistinct.hllDistinct(col("word"), 9).as("n_est"))
        .orderBy(col("lang"))
    },
      // the native TypedImperativeAggregate must land on the identical
      // estimate — shared oracle, strongest possible cross-check
      hllVocabSql),
    // the SHARD-MERGE path under the oracle: per-(lang, source) partial
    // sketches re-aggregated to per-lang registers must estimate
    // identically to the direct sketch (max is associative+idempotent)
    // — same oracle row as text_hll_vocab
    Cert("text_hll_merged", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      val perShard = graft.ops.Hll.sketch(tok, Seq("lang", "source"), col("word"), 9)
      val merged = perShard.groupBy(col("lang"), col("register"))
        .agg(max(col("max_rho")).as("max_rho"))
      graft.ops.Hll.estimate(merged, Seq("lang"), 9).orderBy(col("lang"))
    },
      // shard-merge must land on the identical estimate
      hllVocabSql),
    // Zipf rank-frequency fit over the top-200 terms: log-log OLS with
    // ln values quantized to integer ten-thousandths, so every sum is
    // EXACT under any aggregation order (scaling cancels in the
    // slope); r² as the product of two exact-integer ratios. Global
    // top-k through BoundedTopK — vocabulary never crosses one window
    Cert("text_zipf_slope", (s, d) => {
      val tf = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("f"))
      val top = tf
        .select(struct(negate(col("f")).as("nf"), col("word").as("w")).as("c"))
        .agg(graft.functions.TopK.topKSmallest(col("c"), 200).as("tk"))
        .select(posexplode(col("tk")).as(Seq("pos", "e")))
        .select(
          round(log((col("pos") + 1).cast("double")) * 10000).cast("long").as("x4"),
          round(log(negate(col("e.nf")).cast("double")) * 10000).cast("long").as("y4"))
      top
        .agg(count(lit(1)).as("n"), sum(col("x4")).as("sx"), sum(col("y4")).as("sy"),
          sum(col("x4") * col("y4")).as("sxy"), sum(col("x4") * col("x4")).as("sxx"),
          sum(col("y4") * col("y4")).as("syy"))
        .select(
          col("n").as("n_terms"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 4)
            .as("zipf_slope"),
          round(
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 4)
            .as("r2"))
    },
      // quantized-integer OLS: every sum exact, two final divisions
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tf AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY word), " +
        "top AS (SELECT f, row_number() OVER (ORDER BY f DESC, word) AS rank FROM tf " +
        "QUALIFY row_number() OVER (ORDER BY f DESC, word) <= 200), " +
        "sc AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 10000) AS BIGINT) AS x4, " +
        "CAST(round(ln(CAST(f AS DOUBLE)) * 10000) AS BIGINT) AS y4 FROM top), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x4) AS BIGINT) AS sx, " +
        "CAST(sum(y4) AS BIGINT) AS sy, CAST(sum(x4 * y4) AS BIGINT) AS sxy, " +
        "CAST(sum(x4 * x4) AS BIGINT) AS sxx, CAST(sum(y4 * y4) AS BIGINT) AS syy FROM sc) " +
        "SELECT n AS n_terms, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope, " +
        "round((CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * " +
        "(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * syy - sy * sy AS DOUBLE)), 4) AS r2 " +
        "FROM a")),
    // Heaps' law: TYPE-growth exponent over 8 cumulative corpus
    // prefixes (doc_id-bucket unions) — V(n) ≈ K·n^β, the statistic
    // that predicts distinct-content volume (and sketch/dedup-state
    // sizing) at 100 TB from a sample. Types are 3-gram shingles (the
    // dedup unit; the synthetic corpus's WORD vocabulary saturates in
    // one bucket, a degenerate fit). Cumulative type count via
    // per-type MIN bucket — no prefix re-scan; same quantized-integer
    // OLS as text_zipf_slope
    Cert("text_heaps_law", (s, d) => {
      val tok = Tables.documents(s, d)
        .select((col("doc_id") % 8).cast("int").as("b"),
          graft.functions.ShingleGenerator.shingles(col("text"), 3)
            .as(Seq("pos", "word")))
        .select(col("b"), col("word"))
      val perB = tok.groupBy(col("b")).agg(count(lit(1)).as("nt"))
      val vocabB = tok.groupBy(col("word")).agg(min(col("b")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(hash(col("b")), lit(1))).orderBy(col("b"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val pts = perB.join(vocabB, Seq("b"), "left")
        .select(col("b"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
        .select(col("b"), sum(col("nt")).over(w).as("ct"), sum(col("nv")).over(w).as("cv"))
        .select(
          round(log(col("ct").cast("double")) * 10000).cast("long").as("x4"),
          round(log(col("cv").cast("double")) * 10000).cast("long").as("y4"))
      pts
        .agg(count(lit(1)).as("n"), sum(col("x4")).as("sx"), sum(col("y4")).as("sy"),
          sum(col("x4") * col("y4")).as("sxy"), sum(col("x4") * col("x4")).as("sxx"),
          sum(col("y4") * col("y4")).as("syy"))
        .select(
          col("n").as("n_points"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 4)
            .as("heaps_beta"),
          round(
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 4)
            .as("r2"))
    },
      // cumulative 3-gram type count by per-type min bucket; same
      // exact-integer OLS
      ("WITH wd AS (SELECT CAST(doc_id % 8 AS INT) AS b, string_split(text, ' ') AS w FROM documents), " +
        "tok AS (SELECT b, array_to_string(w[i:i+2], ' ') AS word " +
        "FROM wd, unnest(range(1, len(w) - 1)) AS t(i)), " +
        "pb AS (SELECT b, CAST(count(*) AS BIGINT) AS nt FROM tok GROUP BY b), " +
        "vb AS (SELECT b, CAST(count(*) AS BIGINT) AS nv FROM " +
        "(SELECT word, CAST(min(b) AS INT) AS b FROM tok GROUP BY word) GROUP BY b), " +
        "cm AS (SELECT pb.b, CAST(sum(nt) OVER (ORDER BY pb.b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ct, " +
        "CAST(sum(COALESCE(nv, 0)) OVER (ORDER BY pb.b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cv " +
        "FROM pb LEFT JOIN vb ON pb.b = vb.b), " +
        "sc AS (SELECT CAST(round(ln(CAST(ct AS DOUBLE)) * 10000) AS BIGINT) AS x4, " +
        "CAST(round(ln(CAST(cv AS DOUBLE)) * 10000) AS BIGINT) AS y4 FROM cm), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x4) AS BIGINT) AS sx, " +
        "CAST(sum(y4) AS BIGINT) AS sy, CAST(sum(x4 * y4) AS BIGINT) AS sxy, " +
        "CAST(sum(x4 * x4) AS BIGINT) AS sxx, CAST(sum(y4 * y4) AS BIGINT) AS syy FROM sc) " +
        "SELECT n AS n_points, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS heaps_beta, " +
        "round((CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * " +
        "(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * syy - sy * sy AS DOUBLE)), 4) AS r2 " +
        "FROM a")),
    // the custom GENERATOR rung (UDTF-shaped, §2.5): shingle rows
    // emitted straight off one token split under GenerateExec — no
    // materialized shingle array per document
    Cert("text_shingle_rows", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          graft.functions.ShingleGenerator.shingles(col("text"), 5)
            .as(Seq("pos", "shingle")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_shingles"),
          countDistinct(col("shingle")).as("n_distinct"))
        .orderBy(col("lang")),
      ("WITH w AS (SELECT lang, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT lang, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM w, unnest(range(1, len(w) - 3)) AS t(i)) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_shingles, " +
        "CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct " +
        "FROM sh GROUP BY lang ORDER BY lang")),
    // ... and the generator's SQL surface: injected like
    // cosine_similarity, `LATERAL VIEW`-free SELECT-position generator
    // in plain SQL — same oracle as the Column-API path
    Cert("text_shingle_sql", (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("shingle_sql_docs")
      s.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_shingles,
          |       CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct
          |FROM (SELECT lang, shingles(text, 5) FROM shingle_sql_docs)
          |GROUP BY lang ORDER BY lang
          |""".stripMargin)
    },
      // the generator ≡ the slice formulation: every 5-token window,
      // single-space joined, trailing-empty tokenization on both sides
      // (the SQL-function path must land on the identical frame)
      ("WITH w AS (SELECT lang, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT lang, array_to_string(w[i:i+4], ' ') AS shingle " +
        "FROM w, unnest(range(1, len(w) - 3)) AS t(i)) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_shingles, " +
        "CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct " +
        "FROM sh GROUP BY lang ORDER BY lang")),
    // KMV bottom-k sketch: per-lang vocabulary estimate — the
    // SET-OPERATION sketch beside HLL (intersections, which registers
    // cannot do); estimate = exact below k, (k−1)·2^32/h_k above
    Cert("text_kmv_vocab", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      graft.ops.Kmv.estimateDistinct(
          graft.ops.Kmv.sketch(tok, Seq("lang"), col("word"), 256),
          Seq("lang"), 256)
        .orderBy(col("lang"))
    },
      kmvVocabSql),
    // the two-pass heavy-hitter query over the Misra–Gries native
    // aggregate: pass 1 = MG candidates under 200 counters (one pass,
    // 200 counters per map task on the wire — never the vocabulary);
    // pass 2 = EXACT counts of the ≤200 candidates via broadcast
    // semi-join, filtered on the integer-exact threshold
    // cnt·200 > n_total. The MG guarantee (freq > n/201 ⇒ candidate,
    // spec-certified) makes candidates ⊇ true heavy hitters, so the
    // final set is deterministic although the sketch itself is
    // order-dependent — the production shape for "top tokens without
    // a vocabulary shuffle"
    Cert("text_heavy_hitters", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
      val cands = tok
        .agg(graft.functions.TopFreq.topFreq(col("word"), 200).as("cand"))
        .select(explode(col("cand")).as("word"))
      val counts = tok.join(broadcast(cands), "word")
        .groupBy(col("word")).agg(count(lit(1)).as("n_occurrences"))
      val tot = tok.agg(count(lit(1)).as("n_total"))
      counts.crossJoin(broadcast(tot))
        .filter(col("n_occurrences") * 200 > col("n_total"))
        .select(col("word"), col("n_occurrences"))
        .orderBy(col("word"))
    },
      // exact heavy hitters: every token holding > 1/200 of all
      // occurrences (the MG guarantee makes the sketch's candidate set a
      // superset, so the exact-threshold answer is deterministic)
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tot AS (SELECT count(*) AS n_total FROM tok) " +
        "SELECT word, count(*) AS n_occurrences FROM tok, tot " +
        "GROUP BY word, tot.n_total HAVING count(*) * 200 > tot.n_total " +
        "ORDER BY word")),
    // the NATIVE KMV aggregate (TypedImperativeAggregate): dedup folds
    // INTO the k-bounded TreeSet buffer — one pass, no corpus-wide
    // (group, hash) distinct stage — and must answer bit-identically
    // to the frame path above (same hash, same n_sk<k exact branch,
    // same (k−1)·2^32/h_k single division, same rounding), so it
    // shares text_kmv_vocab's oracle verbatim
    Cert("text_kmv_native", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      tok.groupBy(col("lang"))
        .agg(graft.functions.KmvDistinct.kmvDistinct(col("word"), 256).as("n_est"))
        .orderBy(col("lang"))
    },
      // the native bounded-buffer aggregate lands on the identical
      // estimate — shared oracle
      kmvVocabSql),
    // the shard-merge path: per-(lang, source) partial KMV sketches
    // re-minned to per-lang must estimate identically to the direct
    // sketch (min-k is associative + idempotent) — same oracle row
    Cert("text_kmv_merged", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      val perShard = graft.ops.Kmv.sketch(tok, Seq("lang", "source"), col("word"), 256)
        .select(col("lang"), col("hv"))
      graft.ops.Kmv.estimateDistinct(
          graft.ops.Kmv.merge(Seq(perShard), Seq("lang"), 256), Seq("lang"), 256)
        .orderBy(col("lang"))
    },
      // min-k is associative + idempotent: shard-then-merge ≡ direct
      kmvVocabSql),
    // pairwise vocabulary overlap between languages from the sketches
    // ALONE: Jaccard + intersection estimates per unordered lang pair —
    // the contamination/overlap telemetry between corpus shards at
    // 100 TB, at 8 KiB per shard instead of the vocabularies
    Cert("text_kmv_overlap", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      graft.ops.Kmv.pairOverlap(
          graft.ops.Kmv.sketch(tok, Seq("lang"), col("word"), 256), "lang", 256)
        .orderBy(col("g_a"), col("g_b"))
    },
      kmvOverlapSql),
    // sketch algebra composes with relational rollup: GROUPING SETS
    // over the register frame (max is idempotent/associative, so every
    // grouping level's registers ≡ its direct sketch) — per-lang AND
    // corpus-total vocabulary from ONE sketch pass
    Cert("text_hll_rollup", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("word"))
      val sk = graft.ops.Hll.sketch(tok, Seq("lang"), col("word"), 9)
      val rolled = sk.groupingSets(
          Seq(Seq(col("lang"), col("register")), Seq(col("register"))),
          col("lang"), col("register"))
        .agg(max(col("max_rho")).as("max_rho"))
      graft.ops.Hll.estimate(rolled, Seq("lang"), 9)
        .select(coalesce(col("lang"), lit("ALL")).as("lang"), col("n_est"))
        .orderBy(col("lang"))
    },
      // GROUPING SETS pushed into the register build: max associativity
      // makes each level ≡ its direct sketch
      ("WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "h AS (SELECT lang, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS hv FROM tok), " +
        "r AS (SELECT lang, CAST(hv // 8388608 AS INT) AS register, " +
        "max(24 - length(ltrim(bin(hv % 8388608), '0'))) AS max_rho FROM h " +
        "GROUP BY GROUPING SETS ((lang, register), (register))), " +
        "e AS (SELECT lang, count(*) AS np, sum(power(2.0, -max_rho)) AS sp FROM r GROUP BY lang) " +
        "SELECT COALESCE(lang, 'ALL') AS lang, round(CASE WHEN raw <= 1280.0 AND (512.0 - np) > 0 " +
        "THEN 512.0 * ln(512.0 / (512.0 - np)) ELSE raw END, 4) AS n_est " +
        "FROM (SELECT lang, np, sp, (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / " +
        "((512.0 - np) + sp) AS raw FROM e) ORDER BY lang")),
    // unigram-LM cross-entropy against the corpus's own distribution —
    // the cheap perplexity stand-in for quality filtering
    Cert("text_unigram_logprob", (s, d) =>
      TextOps.unigramLogProb(Tables.documents(s, d)).orderBy(col("doc_id")),
      // f/n is true division (DOUBLE) on both engines; ln natural log
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "freq AS (SELECT word, count(*) AS f FROM tok GROUP BY word), " +
        "tot AS (SELECT count(*) AS n FROM tok) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_tokens, " +
        "round(avg(-ln(f / n)), 4) AS avg_neg_logp " +
        "FROM tok JOIN freq USING (word) CROSS JOIN tot " +
        "GROUP BY doc_id ORDER BY doc_id")),
    // interpolated bigram LM — context-aware perplexity stand-in; λ/μ
    // passed explicitly so both engines compute with literal 0.7/0.3
    Cert("text_bigram_logprob", (s, d) =>
      TextOps.bigramLogProb(Tables.documents(s, d), 0.7, 0.3).orderBy(col("doc_id")),
      // interpolated bigram LM: bigrams re-derived positionally from the
      // token list (range(1, len) pairs ≡ the Spark lag window), both
      // count tables joined back, fixed literals 0.7/0.3
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "uni AS (SELECT word, count(*) AS uf FROM tok GROUP BY word), " +
        "tot AS (SELECT count(*) AS n FROM tok), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "bgp AS (SELECT doc_id, string_split(bigram, ' ')[1] AS prev, string_split(bigram, ' ')[2] AS word FROM bg), " +
        "bf AS (SELECT prev, word, count(*) AS bf FROM bgp GROUP BY prev, word) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams, " +
        "round(avg(-ln(0.7 * bf.bf / pf.uf + 0.3 * uni.uf / n)), 4) AS avg_neg_logp " +
        "FROM bgp JOIN bf ON bgp.prev = bf.prev AND bgp.word = bf.word " +
        "JOIN uni ON bgp.word = uni.word JOIN uni pf ON bgp.prev = pf.word CROSS JOIN tot " +
        "GROUP BY doc_id ORDER BY doc_id")),
    // cross-doc duplicated n-gram span fraction — the substring-level
    // dedup signal pair-joins can't see (copies spread across many
    // partners); linear in postings, no pair explosion
    Cert("text_dup_span_fraction", (s, d) =>
      TextOps.dupSpanFraction(Tables.documents(s, d)).orderBy(col("doc_id")),
      // distinct postings → shingle doc-frequency → per-doc share of
      // shingles seen elsewhere
      (s"WITH sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles, " +
        "round(avg(CASE WHEN df.df > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_fraction " +
        "FROM sh JOIN df USING (shingle) GROUP BY doc_id ORDER BY doc_id")),
    // longest cross-doc duplicated token span (exact-substring-dedup
    // signal): positional postings + gaps-and-islands, no suffix sort
    Cert("text_dup_max_span", (s, d) =>
      TextOps.dupMaxRun(Tables.documents(s, d)).orderBy(col("doc_id")),
      // positional shingles (lockstep unnest = posexplode), df over
      // distinct doc-shingle pairs, islands by pos - row_number; a run
      // of L duplicated 3-gram positions covers L+2 tokens
      (s"WITH shp AS (SELECT doc_id, unnest(range(0, len(shingles))) AS pos, " +
        s"unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sdf AS (SELECT shingle, count(*) AS df FROM " +
        "(SELECT DISTINCT doc_id, shingle FROM shp) GROUP BY shingle), " +
        "dup AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn " +
        "FROM shp JOIN sdf USING (shingle) WHERE sdf.df > 1), " +
        "runs AS (SELECT doc_id, pos - rn AS island, count(*) AS len FROM dup GROUP BY doc_id, island), " +
        "agg AS (SELECT doc_id, max(len) AS mx, count(*) AS nr FROM runs GROUP BY doc_id) " +
        "SELECT d.doc_id AS doc_id, CAST(coalesce(agg.mx + 2, 0) AS INT) AS max_dup_span_tokens, " +
        "CAST(coalesce(agg.nr, 0) AS INT) AS n_dup_spans " +
        "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id ORDER BY doc_id")),
    // CCNet-style boilerplate removal WITH corpus rewrite: 5-token
    // spans repeated across ≥2 docs are deleted and each doc is
    // reassembled in order; certified via the cleaned-text hash
    Cert("text_boilerplate_scrub", (s, d) =>
      TextOps.boilerplateScrub(Tables.documents(s, d), 5, 2).orderBy(col("doc_id")),
      // 5-token spans, df across docs, rewrite keeping df<2 spans in
      // chunk_start order; string_agg skips the NULLed boilerplate rows
      // and coalesces to '' when a doc is ALL boilerplate
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sp AS (SELECT doc_id, i AS chunk_start, array_to_string(w[i+1:i+5], ' ') AS chunk " +
        "FROM w, unnest(range(0, len(w), 5)) AS t(i) WHERE i < len(w)), " +
        "df AS (SELECT chunk, count(DISTINCT doc_id) AS span_df FROM sp GROUP BY chunk) " +
        "SELECT doc_id, CAST(count(*) AS INT) AS n_spans, " +
        "CAST(count(*) FILTER (span_df >= 2) AS INT) AS n_dropped, " +
        "md5(coalesce(string_agg(CASE WHEN span_df < 2 THEN chunk END, ' ' " +
        "ORDER BY chunk_start), '')) AS clean_hash " +
        "FROM sp JOIN df USING (chunk) GROUP BY doc_id ORDER BY doc_id")),
    // collocation mining: top-50 adjacent pairs by PMI (count ≥ 5) —
    // the word2phrase signal for multi-word-token discovery
    Cert("text_pmi_bigrams", (s, d) =>
      TextOps.pmiBigrams(Tables.documents(s, d), 5, 50).orderBy(col("rank")),
      // PMI on exact integer counts; both engines evaluate the ln on the
      // SAME left-to-right double product, then round — scalar totals
      // forced to DOUBLE (DuckDB sums BIGINT into DECIMAL otherwise)
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM w, unnest(range(1, len(w))) AS t(i)), " +
        "pc AS (SELECT w1, w2, count(*) AS n_pair FROM bg GROUP BY w1, w2), " +
        "u AS (SELECT word, count(*) AS n_word FROM " +
        "(SELECT unnest(w) AS word FROM w) GROUP BY word), " +
        "tot AS (SELECT (SELECT CAST(sum(n_pair) AS DOUBLE) FROM pc) AS b_total, " +
        "(SELECT CAST(sum(n_word) AS DOUBLE) FROM u) AS t_total), " +
        "scored AS (SELECT w1, w2, n_pair, " +
        "round(ln(CAST(n_pair AS DOUBLE) * t_total * t_total / " +
        "(b_total * u1.n_word * u2.n_word)), 4) AS pmi " +
        "FROM pc JOIN u u1 ON pc.w1 = u1.word JOIN u u2 ON pc.w2 = u2.word " +
        "CROSS JOIN tot WHERE n_pair >= 5) " +
        "SELECT w1, w2, n_pair, pmi, " +
        "CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT) AS rank " +
        "FROM scored QUALIFY row_number() OVER (ORDER BY pmi DESC, w1, w2) <= 50 " +
        "ORDER BY rank")),
    // Dunning G² collocations beside PMI: full 2×2 contingency, so
    // evidence mass counts and rare flukes sink (phrase-mining scorer)
    Cert("text_llr_bigrams", (s, d) =>
      TextOps.llrBigrams(Tables.documents(s, d), 5, 50).orderBy(col("rank")),
      // G²: fixed-order 4-term expression replayed token for token;
      // marginals are per-position re-aggregates of the pair counts
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bg AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM w, unnest(range(1, len(w))) AS t(i)), " +
        "pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM bg GROUP BY w1, w2), " +
        "fc AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_first FROM pc GROUP BY w1), " +
        "sc AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_second FROM pc GROUP BY w2), " +
        "tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS b_total FROM pc), " +
        "j AS (SELECT w1, w2, n_pair, CAST(b_total AS DOUBLE) AS n, " +
        "CAST(n_pair AS DOUBLE) AS ka, CAST(n_first - n_pair AS DOUBLE) AS kb, " +
        "CAST(n_second - n_pair AS DOUBLE) AS kc, " +
        "CAST(b_total - n_first - n_second + n_pair AS DOUBLE) AS kd, " +
        "CAST(n_first AS DOUBLE) AS r1, CAST(n_second AS DOUBLE) AS c1 " +
        "FROM pc JOIN fc USING (w1) JOIN sc USING (w2) CROSS JOIN tot WHERE n_pair >= 5), " +
        "s AS (SELECT w1, w2, n_pair, round(2.0 * (((" +
        "CASE WHEN ka > 0 THEN ka * ln(ka * n / (r1 * c1)) ELSE 0.0 END + " +
        "CASE WHEN kb > 0 THEN kb * ln(kb * n / (r1 * (n - c1))) ELSE 0.0 END) + " +
        "CASE WHEN kc > 0 THEN kc * ln(kc * n / ((n - r1) * c1)) ELSE 0.0 END) + " +
        "CASE WHEN kd > 0 THEN kd * ln(kd * n / ((n - r1) * (n - c1))) ELSE 0.0 END), 4) AS llr " +
        "FROM j) " +
        "SELECT w1, w2, n_pair, llr, CAST(row_number() OVER (ORDER BY llr DESC, w1, w2) AS INT) AS rank " +
        "FROM s QUALIFY row_number() OVER (ORDER BY llr DESC, w1, w2) <= 50 ORDER BY rank")),
    // deterministic per-group reservoir: exactly k docs per language,
    // membership a pure function of (salt, doc_id) — retry-stable,
    // and k-exact where rate-based stratified sampling is not
    Cert("text_reservoir_sample", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(concat(lit("seed7|"), col("doc_id").cast("string"))), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .orderBy(col("lang"), col("rank"))
    },
      // same md5 text on both engines; ties (none expected) by doc_id
      ("SELECT doc_id, lang, CAST(rn AS INT) AS rank FROM " +
        "(SELECT doc_id, lang, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5('seed7|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) " +
        "WHERE rn <= 20 ORDER BY lang, rank")),
    // SentencePiece unigram-LM tokenizer (hard-EM): seed substring
    // vocab → Viterbi segmentation → re-fit → second Viterbi; the
    // whole two-pass chain replayed in SQL to hash equality
    Cert("text_unigram_lm", (s, d) =>
      unigramTableFor(s, d).orderBy(col("word")),
      // the full two-Viterbi hard-EM chain (see unigramLmSql)
      (s"WITH $unigramLmSql " +
        "SELECT word, CAST(freq AS BIGINT) AS freq, path, " +
        "CAST(len(string_split(path, '|')) AS INT) AS n_pieces " +
        "FROM uf2 ORDER BY word")),
    // the serving path: corpus tokenized against the trained table
    // (map-only broadcast lookup), per-doc expansion stats
    Cert("text_unigram_encode", (s, d) =>
      graft.ops.UnigramLm.encode(Tables.documents(s, d),
        unigramTableFor(s, d)).orderBy(col("doc_id")),
      // the trained table applied back to the corpus: per-doc token
      // expansion from exact integer counts
      (s"WITH $unigramLmSql, " +
        "utok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(len(string_split(f.path, '|'))) AS BIGINT) AS n_pieces_total, " +
        "round(CAST(sum(len(string_split(f.path, '|'))) AS DOUBLE) / count(*), 4) AS pieces_per_word " +
        "FROM utok t JOIN uf2 f USING (word) GROUP BY doc_id ORDER BY doc_id")),
    // CCNet-style per-language perplexity terciles over the unigram-LM
    // score (head = most fluent third of each language)
    Cert("text_ppl_buckets", (s, d) =>
      TextOps.perplexityBuckets(Tables.documents(s, d)).orderBy(col("doc_id")),
      // unigram-LM score joined back to lang, ntile(3) per language
      // (ties split by doc_id — both engines distribute remainders to
      // the leading tiles per the SQL standard)
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "freq AS (SELECT word, count(*) AS f FROM tok GROUP BY word), " +
        "tot AS (SELECT count(*) AS n FROM tok), " +
        "u AS (SELECT doc_id, round(avg(-ln(f / n)), 4) AS avg_neg_logp " +
        "FROM tok JOIN freq USING (word) CROSS JOIN tot GROUP BY doc_id), " +
        "t AS (SELECT u.doc_id, d.lang, u.avg_neg_logp, " +
        "ntile(3) OVER (PARTITION BY d.lang ORDER BY u.avg_neg_logp, u.doc_id) AS tc " +
        "FROM u JOIN documents d ON u.doc_id = d.doc_id) " +
        "SELECT doc_id, lang, avg_neg_logp, CASE WHEN tc = 1 THEN 'head' " +
        "WHEN tc = 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket " +
        "FROM t ORDER BY doc_id")),
    // model-based quality filtering: logistic regression trained by
    // full-batch GD as relational aggregates (rule distillation — the
    // fastText-style quality model), float-quantized iteration chain
    // replayed in SQL to hash equality
    Cert("text_lr_weights", (s, d) =>
      graft.ops.Classifier.weightsFrame(Tables.documents(s, d), 20, 10.0)
        .orderBy(col("feature")),
      // logistic-regression GD replayed end-to-end; weights surfaced
      // after 20 iterations, rounded at the output edge only
      (s"WITH $lrChainSql " +
        "SELECT CAST(f AS INT) AS feature, round(w, 4) AS weight " +
        "FROM (SELECT unnest([0, 1, 2, 3]) AS f, unnest([w0, w1, w2, w3]) AS w FROM lw20) " +
        "ORDER BY feature")),
    // map-only inference under the trained model: calibrated quality
    // probability + hard prediction vs the rule label it distills
    Cert("text_lr_scores", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Classifier.scores(docs, graft.ops.Classifier.train(docs, 20, 10.0))
        .orderBy(col("doc_id"))
    },
      // same chain + map-only scoring pass; probability float-quantized
      // BEFORE the 0.5 threshold so the prediction is engine-stable
      (s"WITH $lrChainSql " +
        "SELECT doc_id, CAST(y AS INT) AS rule_label, round(p, 4) AS prob, " +
        "CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred " +
        "FROM (SELECT doc_id, y, " +
        "CAST(CAST(1.0/(1.0 + exp(-(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3))) AS FLOAT) AS DOUBLE) AS p " +
        "FROM lrf CROSS JOIN lw20 w) ORDER BY doc_id")),
    // threshold-free classifier evaluation: exact tie-averaged
    // Mann–Whitney AUC over the score histogram (integer 2R, one
    // division) — the eval closer beside the lang-ID confusion matrix
    Cert("text_lr_auc", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Classifier.auc(
        graft.ops.Classifier.scores(docs, graft.ops.Classifier.train(docs, 20, 10.0)))
    },
      // tie-averaged Mann–Whitney over the rounded-score histogram:
      // 2R⁺ = Σ np·(r0+r1) integer, one final division
      (s"WITH $lrChainSql, " +
        "sc AS (SELECT round(CAST(CAST(1.0/(1.0 + exp(-(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3))) AS FLOAT) AS DOUBLE), 4) AS prob, y " +
        "FROM lrf CROSS JOIN lw20 w), " +
        "g AS (SELECT prob, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS np FROM sc GROUP BY prob), " +
        "c AS (SELECT *, CAST(sum(n) OVER (ORDER BY prob ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1 FROM g), " +
        "t AS (SELECT CAST(sum(np * (c1 - n + 1 + c1)) AS BIGINT) AS two_r, " +
        "CAST(sum(np) AS BIGINT) AS npos, CAST(sum(n) - sum(np) AS BIGINT) AS nneg FROM c) " +
        "SELECT npos AS n_pos, nneg AS n_neg, " +
        "round(CAST(two_r - npos * (npos + 1) AS DOUBLE) / CAST(2 * npos * nneg AS DOUBLE), 6) AS auc FROM t")),
    // reliability diagram: decile bins, mean predicted probability vs
    // empirical positive rate — integer sums, one division each
    Cert("text_lr_calibration", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Classifier.calibrationBins(
        graft.ops.Classifier.scores(docs, graft.ops.Classifier.train(docs, 20, 10.0)))
        .orderBy(col("bin"))
    },
      // calibration: same float-quantized score, exact ten-thousandths
      (s"WITH $lrChainSql, " +
        "sc AS (SELECT round(CAST(CAST(1.0/(1.0 + exp(-(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3))) AS FLOAT) AS DOUBLE), 4) AS prob, y " +
        "FROM lrf CROSS JOIN lw20 w), " +
        "b AS (SELECT CAST(least(floor(prob * 10), 9) AS INT) AS bin, " +
        "CAST(round(prob * 10000) AS BIGINT) AS p4, y FROM sc) " +
        "SELECT bin, CAST(count(*) AS BIGINT) AS n, " +
        "round(CAST(sum(p4) AS DOUBLE) / CAST(count(*) * 10000 AS DOUBLE), 4) AS mean_prob, " +
        "round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS pos_rate " +
        "FROM b GROUP BY bin ORDER BY bin")),
    // token-share mixture rebalancing: per-source keep-rates derived
    // from the corpus's own token totals (downsample-only; the tiny
    // per-source aggregate is the same O(#strata) driver-side scalar
    // exception as the corpus-scaled LSH bits) — the SAME share map
    // and rate arithmetic generate the oracle SQL below
    Cert("text_mixture_sample", (s, d) => {
      val docs = Tables.documents(s, d)
      val totals = docs
        .select(col("source"), size(TextOps.tokens(col("text"))).as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("toks"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Sampling.mixtureSample(docs, col("doc_id"), col("source"),
          totals, mixShares, "mixsalt")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // mixture rebalancing: per-source token totals → c = min(toks/share)
      // → rate = least(1, c*share/toks) → 8-hex threshold, all in the
      // same double-op order as Sampling.mixtureRates/hexThreshold
      (s"WITH t AS (SELECT source, sum(len(string_split(text, ' '))) AS toks FROM documents GROUP BY source), " +
        s"sh(source, share) AS (VALUES $mixSharesValuesSql), " +
        "c AS (SELECT min(CAST(toks AS DOUBLE) / share) AS c FROM t JOIN sh USING (source) WHERE share > 0), " +
        "r AS (SELECT source, least(CAST(1.0 AS DOUBLE), c.c * share / CAST(toks AS DOUBLE)) AS rate " +
        "FROM t JOIN sh USING (source) CROSS JOIN c WHERE share > 0), " +
        "thr AS (SELECT source, printf('%08x', least(CAST(trunc(rate * 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM r) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN thr ON d.source = thr.source " +
        "WHERE substr(md5('mixsalt' || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr " +
        "ORDER BY d.doc_id")),
    // BPE merge training: one corpus-scale vocab aggregate, then 6
    // vocabulary-scale merge rounds — the tokenizer-training artifact
    Cert("text_bpe_merges", (s, d) =>
      graft.ops.Bpe.merges(Tables.documents(s, d), 6).orderBy(col("merge_rank")),
      bpeOracleSql(6)),
    // the trained merge table replayed into per-word segmentations —
    // the tokenizer's encode step, certified end-to-end
    Cert("text_bpe_pieces", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Bpe.segment(docs, graft.ops.Bpe.merges(docs, 6))
        .select(col("word"), col("freq"), array_join(col("pieces"), " ").as("pieces"))
        .orderBy(col("word"))
    },
      bpePiecesSql(6)),
    // 5-gram collision decontamination across the 80/20 hash split —
    // any shared n-gram flags the heldout doc (occurrence-counted)
    Cert("text_ngram_decontam", (s, d) =>
      Sampling.ngramContamination(Tables.documents(s, d), 0.8, "decontam", 5)
        .orderBy(col("doc_id")),
      // 5-gram postings; train side distinct, heldout occurrences counted
      ("WITH sh AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5 THEN " +
        "list_transform(range(1, len(w)-3), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) " +
        "ELSE CAST([] AS VARCHAR[]) END) AS g " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)), " +
        "tagged AS (SELECT doc_id, substr(md5('decontam' || CAST(doc_id AS VARCHAR)), 1, 8) " +
        s"< '${graft.ops.Sampling.hexThreshold(0.8)}' AS is_train FROM documents), " +
        "tg AS (SELECT DISTINCT g FROM sh JOIN tagged USING (doc_id) WHERE is_train) " +
        "SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams " +
        "FROM sh JOIN tagged USING (doc_id) JOIN tg USING (g) " +
        "WHERE NOT is_train GROUP BY sh.doc_id ORDER BY sh.doc_id")),
    // per-row importance sampling: keep probability = clamped
    // n_chars/400 (longer docs weighted up) — the threshold is a
    // row-local hex expression, not a literal, mirrored into the
    // oracle with the same double-op order
    Cert("text_importance_sample", (s, d) =>
      Sampling.importanceSample(Tables.documents(s, d), col("doc_id"),
          col("n_chars").cast("double") / lit(400.0), "impsalt")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id")),
      // per-row weight → floor(w·2^32) → zero-padded hex, compared
      // lexicographically against the same 8-hex bucket hash
      ("SELECT doc_id, n_chars FROM (SELECT doc_id, n_chars, " +
        "printf('%08x', least(CAST(floor(least(CAST(1.0 AS DOUBLE), " +
        "greatest(CAST(0.0 AS DOUBLE), CAST(n_chars AS DOUBLE) / 400.0)) " +
        "* 4294967296.0) AS BIGINT), 4294967295)) AS thr FROM documents) " +
        "WHERE substr(md5('impsalt' || CAST(doc_id AS VARCHAR)), 1, 8) < thr " +
        "ORDER BY doc_id")),
    // weighted sampling without replacement (Efraimidis–Spirakis with
    // hash-derived u): 50 docs, weight = n_chars
    Cert("text_weighted_sample", (s, d) =>
      Sampling.weightedSample(Tables.documents(s, d), col("doc_id"),
          col("n_chars").cast("double"), 50, "ws")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id")),
      // key = ln((hash32+1)/2^32) / weight, top-50 by key desc
      ("SELECT doc_id, n_chars FROM (SELECT doc_id, n_chars, " +
        "ln((CAST('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1.0) / 4294967296.0) " +
        "/ CAST(n_chars AS DOUBLE) AS es_key FROM documents " +
        "ORDER BY es_key DESC, doc_id LIMIT 50) ORDER BY doc_id")),
    // per-source cap: at most 15 docs per source, lowest doc_id first
    // (the per-domain cap of a crawl pipeline)
    Cert("text_source_cap", (s, d) =>
      Sampling.stratumCap(Tables.documents(s, d), col("source"), col("doc_id"), 15)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      ("SELECT doc_id, source FROM documents " +
        "QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 15 " +
        "ORDER BY doc_id")),
    Cert("text_quality_by_lang", (s, d) =>
      TextOps.qualityByLang(Tables.documents(s, d)).orderBy(col("lang")),
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, round(avg(n_chars), 2) AS avg_chars, " +
        "round(avg(n_tokens), 2) AS avg_tokens, round(avg(stop_ratio), 4) AS avg_stop_ratio, " +
        "round(avg(punct_ratio), 4) AS avg_punct_ratio FROM " +
        "(SELECT lang, n_chars, len(string_split(text, ' ')) AS n_tokens, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio, " +
        "CAST(length(text) - length(replace(replace(text, ',', ''), '.', '')) AS DOUBLE) / length(text) AS punct_ratio " +
        "FROM documents) GROUP BY lang ORDER BY lang")),
    Cert("text_lang_id", (s, d) =>
      TextOps.langId(Tables.documents(s, d)).orderBy(col("doc_id")),
      ("SELECT doc_id, lang AS labeled_lang, " +
        "CASE WHEN en >= de AND en >= es THEN 'en' WHEN de >= es THEN 'de' ELSE 'es' END AS guessed_lang FROM " +
        "(SELECT doc_id, lang, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS en, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist','ein'))) AS de, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('el','la','de','y','que','un'))) AS es " +
        "FROM documents) ORDER BY doc_id")),
    // the stage's evaluation artifact: labeled-vs-guessed confusion
    // matrix — the first table anyone asks for before trusting a
    // classifier gate in the curation pipeline
    Cert("text_lang_confusion", (s, d) =>
      TextOps.langId(Tables.documents(s, d))
        .groupBy(col("labeled_lang"), col("guessed_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("labeled_lang"), col("guessed_lang")),
      ("SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n_docs FROM " +
        "(SELECT lang AS labeled_lang, " +
        "CASE WHEN en >= de AND en >= es THEN 'en' WHEN de >= es THEN 'de' ELSE 'es' END AS guessed_lang FROM " +
        "(SELECT lang, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS en, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist','ein'))) AS de, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('el','la','de','y','que','un'))) AS es " +
        "FROM documents)) GROUP BY 1, 2 ORDER BY 1, 2")),
    // chance-corrected agreement: Cohen's κ between the label and the
    // guess — (N·Σn_ii − Σr_i·c_i) / (N² − Σr_i·c_i), every moment an
    // exact integer, ONE final division. Accuracy alone overstates a
    // gate whose classes are imbalanced; κ is the number reviewers ask
    // for next to the confusion matrix
    Cert("text_lang_kappa", (s, d) => {
      val cm = TextOps.langId(Tables.documents(s, d))
        .groupBy(col("labeled_lang"), col("guessed_lang"))
        .agg(count(lit(1)).as("n"))
      val agree = cm.filter(col("labeled_lang") === col("guessed_lang"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_agree"))
      val marg = cm.groupBy(col("labeled_lang")).agg(sum(col("n")).as("r"))
        .join(cm.groupBy(col("guessed_lang")).agg(sum(col("n")).as("c")),
          col("labeled_lang") === col("guessed_lang"))
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("s_rc"))
      val tot = cm.agg(sum(col("n")).as("nn"))
      agree.crossJoin(marg).crossJoin(tot)
        .select(col("nn").as("n_docs"),
          round((col("nn") * col("n_agree") - col("s_rc")).cast("double") /
            (col("nn") * col("nn") - col("s_rc")).cast("double"), 4).as("kappa"))
    },
      // κ from the same confusion counts: integer moments, one division
      ("WITH cm AS (SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n FROM " +
        "(SELECT lang AS labeled_lang, " +
        "CASE WHEN en >= de AND en >= es THEN 'en' WHEN de >= es THEN 'de' ELSE 'es' END AS guessed_lang FROM " +
        "(SELECT lang, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS en, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist','ein'))) AS de, " +
        "len(list_filter(string_split(text, ' '), w -> w IN ('el','la','de','y','que','un'))) AS es " +
        "FROM documents)) GROUP BY 1, 2), " +
        "ag AS (SELECT CAST(COALESCE(sum(CASE WHEN labeled_lang = guessed_lang THEN n END), 0) AS BIGINT) AS n_agree FROM cm), " +
        "rr AS (SELECT labeled_lang AS k, CAST(sum(n) AS BIGINT) AS r FROM cm GROUP BY 1), " +
        "cc AS (SELECT guessed_lang AS k, CAST(sum(n) AS BIGINT) AS c FROM cm GROUP BY 1), " +
        "pp AS (SELECT CAST(COALESCE(sum(rr.r * cc.c), 0) AS BIGINT) AS s_rc FROM rr JOIN cc USING (k)), " +
        "tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cm) " +
        "SELECT nn AS n_docs, round(CAST(nn * n_agree - s_rc AS DOUBLE) / " +
        "CAST(nn * nn - s_rc AS DOUBLE), 4) AS kappa FROM ag CROSS JOIN pp CROSS JOIN tt")),
    // markup extraction over a deterministic HTML wrapper exercising
    // every rule: script block (with attrs + entity soup) dropped
    // content-wise, tags stripped, entities decoded in safe order
    // (&amp; last), whitespace collapsed. Certified via hash + length
    Cert("text_html_extract", (s, d) => {
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 &amp;&amp; 2;\nvar y;</script>" +
          "<style>p { color: red }</style></head><body><h1>Doc</h1><p>"),
        col("text"),
        lit(" &amp; &lt;tail&gt; &quot;q&#39;</p></body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.stripMarkup(html).as("extracted"))
        .select(col("doc_id"), md5(col("extracted")).as("extract_hash"),
          length(col("extracted")).as("n_extract_chars"))
        .orderBy(col("doc_id"))
    },
      // the same wrapper + strip chain; 'g' makes DuckDB's
      // regexp_replace global (Spark's always is), patterns are RE2-safe
      ("WITH h AS (SELECT doc_id, " +
        "'<html><head><script type=\"text/javascript\">var x = 1 &amp;&amp; 2;' || chr(10) || " +
        "'var y;</script><style>p { color: red }</style></head><body><h1>Doc</h1><p>' || " +
        "text || ' &amp; &lt;tail&gt; &quot;q&#39;</p></body></html>' AS html FROM documents), " +
        "s1 AS (SELECT doc_id, regexp_replace(html, '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h), " +
        "s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1), " +
        "s3 AS (SELECT doc_id, replace(replace(replace(replace(replace(t, " +
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&amp;', '&') AS t FROM s2), " +
        "s4 AS (SELECT doc_id, trim(regexp_replace(t, '[ \t' || chr(10) || chr(13) || chr(12) || ']+', ' ', 'g'), ' ') AS t FROM s3) " +
        "SELECT doc_id, md5(t) AS extract_hash, CAST(length(t) AS INT) AS n_extract_chars " +
        "FROM s4 ORDER BY doc_id")),
    Cert("text_fingerprints", (s, d) =>
      TextOps.fingerprints(Tables.documents(s, d)).orderBy(col("doc_id")),
      (s"SELECT doc_id, list_min(list_transform(shingles, s -> md5(s))) AS fingerprint " +
        s"FROM ($shingleSql) ORDER BY doc_id")),
    Cert("text_quality_scores", (s, d) =>
      TextOps.qualityScores(Tables.documents(s, d)).orderBy(col("doc_id")),
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS mean_token_len, " +
        "round(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio, " +
        "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) AS quality_score " +
        "FROM documents ORDER BY doc_id")),
    Cert("text_token_regex", (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextOps.tokensRegex(col("text"))).as("n_regex_tokens"))
        .orderBy(col("doc_id")),
      ("SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9'']+'), t -> length(t) > 0)) AS INT) AS n_regex_tokens " +
        "FROM documents ORDER BY doc_id")),
    // context-window chunking (32-token windows, stride 24); chunk
    // content certified via md5 so the gate hashes stay compact
    Cert("text_chunks", (s, d) =>
      TextOps.chunks(Tables.documents(s, d), 32, 24)
        .select(col("doc_id"), col("chunk_start"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_start")),
      // 1-based inclusive slice w[cs+1 : cs+32] truncates at the end —
      // matching Spark's slice(words, start+1, 32)
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS cs FROM t) " +
        "SELECT doc_id, CAST(cs AS INT) AS chunk_start, " +
        "CAST(least(32, len(w) - cs) AS INT) AS n_chunk_tokens, " +
        "md5(array_to_string(w[cs + 1 : cs + 32], ' ')) AS chunk_hash " +
        "FROM s WHERE least(32, len(w) - cs) > 0 ORDER BY doc_id, chunk_start")),
    // non-overlapping 32-token chunks packed into ≤128-token sequences
    Cert("text_packed_sequences", (s, d) =>
      TextOps.packChunks(TextOps.chunks(Tables.documents(s, d), 32, 32), 128)
        .orderBy(col("doc_id"), col("seq_id")),
      // DuckDB window sum(INT) is HUGEINT — cast at the comparison/output
      // edges; /128.0 forces double division (DuckDB '/' on ints is
      // integer division, Spark's never is)
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, w, unnest(range(0, len(w), 32)) AS cs FROM t), " +
        "c AS (SELECT doc_id, CAST(cs AS INT) AS chunk_start, " +
        "CAST(least(32, len(w) - cs) AS INT) AS n_chunk_tokens FROM s WHERE least(32, len(w) - cs) > 0), " +
        "x AS (SELECT doc_id, n_chunk_tokens, " +
        "sum(n_chunk_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_start) - n_chunk_tokens AS cum_before FROM c) " +
        "SELECT doc_id, CAST(floor(CAST(cum_before AS DOUBLE) / 128.0) AS BIGINT) AS seq_id, " +
        "CAST(count(*) AS BIGINT) AS n_chunks, CAST(sum(n_chunk_tokens) AS BIGINT) AS seq_tokens " +
        "FROM x GROUP BY 1, 2 ORDER BY doc_id, seq_id")),
    Cert("text_tfidf", (s, d) =>
      TextOps.tfidf(Tables.documents(s, d), 3).orderBy(col("doc_id"), col("rank")),
      ("WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY 1, 2), " +
        "dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, word, tf, df, " +
        "round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS tfidf " +
        "FROM tf JOIN dfreq USING (word) CROSS JOIN n), " +
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn FROM scored) " +
        "SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf, CAST(rn AS INT) AS rank " +
        "FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank")),
    // exact top-fraction quality cut via the tiny score histogram — no
    // global window; threshold broadcasts back as a map-only filter
    Cert("text_quality_filter", (s, d) =>
      TextOps.qualityFilter(Tables.documents(s, d), 0.5).orderBy(col("doc_id")),
      // same per-doc score expressions as text_quality_scores; the
      // histogram-derived threshold is the smallest score whose ≥-cohort
      // covers half the corpus
      ("WITH q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
        "round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')), 4) AS mean_token_len, " +
        "round(CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio, " +
        "((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) BETWEEN 3.0 AND 9.0 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) > 0 THEN 1 ELSE 0 END)) AS quality_score " +
        "FROM documents), " +
        "hist AS (SELECT quality_score, count(*) AS cnt FROM q GROUP BY 1), " +
        "cum AS (SELECT quality_score, sum(cnt) OVER (ORDER BY quality_score DESC) AS cum_ge, " +
        "sum(cnt) OVER () AS n_total FROM hist), " +
        "thr AS (SELECT max(quality_score) AS q_threshold FROM cum " +
        "WHERE CAST(cum_ge AS DOUBLE) >= CAST(n_total AS DOUBLE) * 0.5) " +
        "SELECT q.*, thr.q_threshold FROM q CROSS JOIN thr " +
        "WHERE quality_score >= q_threshold ORDER BY doc_id")),
    // deterministic md5-prefix split: same doc_id → same side, forever
    Cert("text_sample_split", (s, d) =>
      Sampling.trainEvalSplit(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        col("doc_id"), 0.8, "graft")
        .orderBy(col("doc_id")),
      // the SAME hexThreshold(0.8) literal is injected on both sides, and
      // the md5-prefix compare is lexicographic in both engines
      (s"WITH h AS (SELECT doc_id, n_chars, " +
        "substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) AS bucket_hash FROM documents) " +
        s"SELECT doc_id, n_chars, bucket_hash, " +
        s"CASE WHEN bucket_hash < '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train' ELSE 'heldout' END AS split " +
        "FROM h ORDER BY doc_id")),
    Cert("text_repetition", (s, d) =>
      TextOps.repetitionScores(Tables.documents(s, d)).orderBy(col("doc_id")),
      // DuckDB range(1, len) yields 1..len-1, pairing w[i] with w[i+1] —
      // the same bigram set as Spark's posexplode+lead postings
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "b AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram " +
        "FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)), " +
        "bc AS (SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY 1, 2), " +
        "bt AS (SELECT doc_id, max(cnt) AS top_cnt FROM bc GROUP BY 1) " +
        "SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens, " +
        "round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS dup_token_ratio, " +
        "round(CAST(coalesce(top_cnt, 0) AS DOUBLE) / greatest(len(w) - 1, 1), 4) AS top_bigram_ratio " +
        "FROM t LEFT JOIN bt ON t.doc_id = bt.doc_id ORDER BY t.doc_id")),
    Cert("text_length_quantiles", (s, d) =>
      TextOps.lengthQuantiles(Tables.documents(s, d)).orderBy(col("lang")),
      // Spark `percentile` and DuckDB `quantile_cont` are both exact
      // linear-interpolated quantiles; round(.,4) absorbs fp noise
      ("SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "round(quantile_cont(n_chars, 0.25), 4) AS p25, " +
        "round(quantile_cont(n_chars, 0.50), 4) AS p50, " +
        "round(quantile_cont(n_chars, 0.75), 4) AS p75, " +
        "round(quantile_cont(n_chars, 0.95), 4) AS p95 " +
        "FROM documents GROUP BY lang ORDER BY lang")),
    // the third sketch beside HLL/CMS: a mergeable equi-width
    // histogram quantile sketch — one pass, O(keys × bins) state,
    // bin-width-bounded error, interpolated estimates
    Cert("text_quantile_sketch", (s, d) =>
      graft.ops.Quantiles.estimateFromSketch(
          graft.ops.Quantiles.histogramSketch(
            Tables.documents(s, d), Seq("lang"), "n_chars", 0.0, 640.0, 64),
          Seq("lang"), 0.0, 640.0, 64, Seq(0.5, 0.9, 0.99))
        .orderBy(col("lang"), col("q")),
      quantileSketchSql),
    // the NATIVE histogram-quantile aggregate (third native sketch
    // beside hll_distinct/kmv_distinct): nBins longs of state per
    // group, exact-integer merges, the identical clamp/select/
    // interpolate arithmetic — shares the frame path's oracle verbatim
    Cert("text_quantile_native", (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(graft.functions.HistQuantiles.histQuantiles(
          col("n_chars").cast("double"), 0.0, 640.0, 64, Seq(0.5, 0.9, 0.99)).as("ests"))
        .select(col("lang"), posexplode(col("ests")).as(Seq("pos", "q_est")))
        .select(col("lang"),
          element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("pos") + 1).as("q"),
          col("q_est"))
        .orderBy(col("lang"), col("q")),
      // the native aggregate's interpolation is the same fixed-order
      // expression — shared oracle
      quantileSketchSql),
    // the shard-merge path: per-(lang, source) partial sketches summed
    // to per-lang counts must estimate IDENTICALLY (integer addition
    // is exact and associative) — same oracle row as the direct path
    Cert("text_quantile_sketch_merged", (s, d) => {
      val parts = graft.ops.Quantiles.histogramSketch(
        Tables.documents(s, d), Seq("lang", "source"), "n_chars", 0.0, 640.0, 64)
      graft.ops.Quantiles.estimateFromSketch(
          parts.groupBy(col("lang"), col("bin")).agg(sum(col("cnt")).as("cnt")),
          Seq("lang"), 0.0, 640.0, 64, Seq(0.5, 0.9, 0.99))
        .orderBy(col("lang"), col("q"))
    },
      // shard-merge must estimate identically (exact integer addition)
      quantileSketchSql),
    // distributed prefix scan (per-partition cumsum + broadcast
    // offsets) must equal the oracle's single global running sum
    Cert("text_shard_assignments", (s, d) =>
      TextOps.shardAssignments(Tables.documents(s, d), 4096)
        .orderBy(col("doc_id")),
      // DuckDB window sum(INT) → HUGEINT; cast at the output edge
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, " +
        "sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS cum_before FROM t) " +
        "SELECT doc_id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before, " +
        "CAST(floor(CAST(cum_before AS DOUBLE) / 4096) AS BIGINT) AS shard_id " +
        "FROM c ORDER BY doc_id")),
    // statistical-aggregate zoo: per-lang regression of char length on
    // token count (corr/covar/regr_* are exact one-pass aggregates in
    // both engines; only the tiny per-lang result crosses the shuffle)
    Cert("text_lang_regression", (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("n_chars").cast("double").as("y"),
          size(split(col("text"), " ")).cast("double").as("x"))
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          round(corr(col("y"), col("x")), 4).as("corr_yx"),
          round(covar_samp(col("y"), col("x")), 4).as("covar_yx"),
          round(expr("regr_slope(y, x)"), 4).as("slope"),
          round(expr("regr_intercept(y, x)"), 4).as("intercept"))
        .orderBy(col("lang")),
      ("WITH t AS (SELECT lang, CAST(n_chars AS DOUBLE) AS y, " +
        "CAST(len(string_split(text, ' ')) AS DOUBLE) AS x FROM documents) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "round(corr(y, x), 4) AS corr_yx, round(covar_samp(y, x), 4) AS covar_yx, " +
        "round(regr_slope(y, x), 4) AS slope, round(regr_intercept(y, x), 4) AS intercept " +
        "FROM t GROUP BY lang ORDER BY lang")),
    // per-lang vocabulary size, exact (the HLL sketch path is pinned
    // to this exact aggregate in OpsSpec within tolerance)
    Cert("text_vocab_stats", (s, d) =>
      TextOps.withTokens(Tables.documents(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("lang"), explode(col("words")).as("word"))
        .groupBy(col("lang")).agg(
          countDistinct(col("word")).as("n_vocab"),
          count(lit(1)).as("n_tokens"))
        .orderBy(col("lang")),
      ("WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "SELECT lang, CAST(count(DISTINCT word) AS BIGINT) AS n_vocab, " +
        "CAST(count(*) AS BIGINT) AS n_tokens FROM w GROUP BY lang ORDER BY lang")),
    // per-stratum rates rebalance the corpus; es/fr absent from the
    // rate map → dropped, exercising the unknown-stratum contract
    Cert("text_stratified_sample", (s, d) =>
      Sampling.stratifiedSample(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"), stratRates, "strat")
        .orderBy(col("doc_id")),
      // the rate map compiles to the same md5-threshold predicate on
      // both sides (see stratRates)
      {
        val conds = stratRates.toSeq.sortBy(_._1).map { case (l, r) =>
          s"(lang = '$l' AND substring(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.hexThreshold(r)}')"
        }.mkString(" OR ")
        s"SELECT doc_id, lang FROM documents WHERE $conds ORDER BY doc_id"
      }),
    // eval-leak check: heldout docs sharing a near-dup fingerprint
    // (min-md5 of 3-gram shingles) with any train doc
    Cert("text_split_contamination", (s, d) =>
      Sampling.splitContamination(
        TextOps.fingerprints(Tables.documents(s, d)), "fingerprint", 0.8, "graft")
        .orderBy(col("doc_id")),
      // near-dup eval leakage: same fingerprint CTE as text_fingerprints,
      // same split threshold as text_sample_split
      (s"WITH f AS (SELECT doc_id, list_min(list_transform(shingles, s -> md5(s))) AS fingerprint FROM ($shingleSql)), " +
        "sp AS (SELECT doc_id, fingerprint, " +
        s"CASE WHEN substring(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Sampling.hexThreshold(0.8)}' THEN 'train' ELSE 'heldout' END AS split FROM f) " +
        "SELECT doc_id, fingerprint FROM sp WHERE split = 'heldout' " +
        "AND fingerprint IN (SELECT fingerprint FROM sp WHERE split = 'train' AND fingerprint IS NOT NULL) " +
        "ORDER BY doc_id")),
    // per-doc top-5 similar docs by shared-shingle count (the
    // retrieval flavor of the pair family), selected through the
    // k-bounded partial aggregate
    Cert("text_similar_docs", (s, d) =>
      Dedup.similarDocsTopK(Tables.documents(s, d), 5)
        .orderBy(col("doc_id"), col("rank")),
      // per-doc top-k neighbors by shared-shingle count over the same
      // df-capped postings — integer counts, (count DESC, id) order,
      // selection through the k-bounded partial aggregate
      (s"WITH sh0 AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM ($shingleSql)), " +
        "sh AS (SELECT doc_id, shingle FROM (SELECT doc_id, shingle, " +
        "count(*) OVER (PARTITION BY shingle) AS df FROM sh0) WHERE df <= 100), " +
        "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a AS doc_id, doc_b AS similar_doc_id, n_shared, " +
        "CAST(row_number() OVER (PARTITION BY doc_a ORDER BY n_shared DESC, doc_b) AS INT) AS rank " +
        "FROM common QUALIFY row_number() OVER (PARTITION BY doc_a ORDER BY n_shared DESC, doc_b) <= 5 " +
        "ORDER BY doc_id, rank"))
  )

  /** Per-lang keep rates for `text_stratified_sample` — the SAME map
    * generates both the Spark predicate and the oracle SQL, so parity
    * holds by construction at any SF. */
  private val stratRates = Map("de" -> 0.9, "en" -> 0.4, "zh" -> 0.7)

  /** Target token shares for `text_mixture_sample` — the SAME map
    * generates the Spark rates and the oracle SQL's shares table, so
    * the data-dependent keep-rates agree bit-for-bit: both engines
    * compute c = min(tokens_s/share_s), rate = min(1, c·share_s/
    * tokens_s) and the 8-hex threshold with identical double ops. */
  private[certs] val mixShares: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (if (i % 4 == 0) 0.10 else 0.03)).toMap

  private[certs] def mixSharesValuesSql: String =
    mixShares.toSeq.sortBy(_._1)
      .map { case (s, w) => s"('$s', CAST($w AS DOUBLE))" }.mkString(", ")

  /** text_bpe_merges oracle: replays `n` BPE rounds — pair counts over
    * the delimited symbol strings, deterministic winner, merge applied
    * with exactly [[graft.ops.Bpe.mergePasses]] replace passes (the
    * defined fixpoint semantics; see Bpe's scaladoc). Generated so the
    * round structure and pass count can never drift from the Scala. */
  private def bpeCtes(n: Int): String = {
    val passes = graft.ops.Bpe.mergePasses
    val base = "w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq, " +
      "'|' || array_to_string(string_split(word, ''), '|') || '|' AS seq " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word)"
    val rounds = (1 to n).map { k =>
      val nested = (1 to passes).foldLeft("seq")((c, _) => s"replace($c, p, r)")
      s"p$k AS (SELECT string_split(pr, ' ')[1] AS a, string_split(pr, ' ')[2] AS b, " +
        "CAST(sum(freq) AS BIGINT) AS cnt " +
        "FROM (SELECT freq, unnest(list_transform(range(1, len(syms)), i -> syms[i] || ' ' || syms[i+1])) AS pr " +
        s"FROM (SELECT freq, list_filter(string_split(seq, '|'), x -> x <> '') AS syms FROM w${k - 1})) " +
        "GROUP BY 1, 2), " +
        s"win$k AS (SELECT CAST($k AS INT) AS merge_rank, a AS sym_a, b AS sym_b, " +
        s"a || b AS merged, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1), " +
        s"w$k AS (SELECT word, freq, $nested AS seq " +
        s"FROM (SELECT w.word, w.freq, w.seq, '|' || v.sym_a || '|' || v.sym_b || '|' AS p, " +
        s"'|' || v.merged || '|' AS r FROM w${k - 1} w CROSS JOIN win$k v))"
    }
    s"WITH $base, ${rounds.mkString(", ")}"
  }

  private def bpeOracleSql(n: Int): String =
    s"${bpeCtes(n)} " +
      (1 to n).map(k => s"SELECT * FROM win$k").mkString(" UNION ALL ") +
      " ORDER BY merge_rank"

  /** text_bpe_pieces oracle: the segmentation state after the final
    * round — pieces joined on one space (array hashing sidestepped). */
  private def bpePiecesSql(n: Int): String =
    s"${bpeCtes(n)} SELECT word, freq, " +
      "array_to_string(list_filter(string_split(seq, '|'), x -> x <> ''), ' ') AS pieces " +
      s"FROM w$n ORDER BY word"

  private[certs] val shingleSql =
    "SELECT doc_id, CASE WHEN len(w) >= 3 THEN " +
      "list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) " +
      "ELSE CAST([] AS VARCHAR[]) END AS shingles " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"

  /** Histogram-sketch quantile replay (bin width 10 over [0, 640),
    * interpolated) — shared by the direct and shard-merged paths,
    * which must estimate identically. */
  private[certs] val quantileSketchSql =
    "WITH qsk AS (SELECT lang, CAST(least(greatest(floor(CAST(n_chars AS DOUBLE) / 10.0), 0), 63) AS INT) AS bin, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1, 2), " +
      "qcm AS (SELECT lang, bin, cnt, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum, " +
      "sum(cnt) OVER (PARTITION BY lang) AS n_total FROM qsk), " +
      "qq AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q) " +
      "SELECT lang, q, round(0.0 + bin * 10.0 + 10.0 * (q * n_total - (cum - cnt)) / cnt, 4) AS q_est " +
      "FROM qcm CROSS JOIN qq " +
      "WHERE cum >= q * n_total AND CAST(cum - cnt AS DOUBLE) < q * n_total " +
      "ORDER BY lang, q"

  private[certs] val cmsTopkSql =
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
      "sk AS (SELECT i AS row, CAST('0x' || substr(md5(CAST(i AS VARCHAR) || word), 1, 8) AS BIGINT) % 1024 AS bucket, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM tok CROSS JOIN range(0, 4) t(i) GROUP BY 1, 2), " +
      "top AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok " +
      "GROUP BY word ORDER BY freq DESC, word LIMIT 20), " +
      "probes AS (SELECT word, freq, i AS row, " +
      "CAST('0x' || substr(md5(CAST(i AS VARCHAR) || word), 1, 8) AS BIGINT) % 1024 AS bucket " +
      "FROM top CROSS JOIN range(0, 4) t(i)) " +
      "SELECT word, freq, min(cnt) AS n_est FROM probes JOIN sk USING (row, bucket) " +
      "GROUP BY word, freq ORDER BY freq DESC, word"

  /** KMV bottom-k sketch replay (k = 256): distinct md5-32 hashes per
    * lang, ranked ascending — shared by the vocab-estimate and
    * pair-overlap oracles. */
  private val kmvSketchCtes =
    "WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents), " +
      "h AS (SELECT DISTINCT lang, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS hv FROM tok), " +
      "r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h), " +
      "sk AS (SELECT lang, hv FROM r WHERE rn <= 256)"

  private[certs] val kmvVocabSql =
    s"$kmvSketchCtes, " +
      "e AS (SELECT lang, count(*) AS n_sk, max(hv) AS h_k FROM sk GROUP BY lang) " +
      "SELECT lang, round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE) " +
      "ELSE 255 * 4294967296.0 / h_k END, 4) AS n_est FROM e ORDER BY lang"

  private val kmvOverlapSql =
    s"$kmvSketchCtes, " +
      "langs AS (SELECT DISTINCT lang FROM sk), " +
      "u AS (SELECT a.lang AS g_a, b.lang AS g_b, a.hv, 1 AS in_a, 0 AS in_b " +
      "FROM sk a JOIN langs b ON a.lang < b.lang " +
      "UNION ALL SELECT a.lang, b.lang, b.hv, 0, 1 FROM langs a JOIN sk b ON a.lang < b.lang), " +
      "g AS (SELECT g_a, g_b, hv, max(in_a) AS in_a, max(in_b) AS in_b FROM u GROUP BY 1, 2, 3), " +
      "rk AS (SELECT *, row_number() OVER (PARTITION BY g_a, g_b ORDER BY hv) AS rn FROM g), " +
      "f AS (SELECT g_a, g_b, count(*) AS kp, max(hv) AS h_k, " +
      "CAST(sum(in_a * in_b) AS BIGINT) AS n_both, " +
      "CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS n_a_only, " +
      "CAST(sum((1 - in_a) * in_b) AS BIGINT) AS n_b_only " +
      "FROM rk WHERE rn <= 256 GROUP BY 1, 2), " +
      "fu AS (SELECT f.*, CASE WHEN kp < 256 THEN CAST(kp AS DOUBLE) " +
      "ELSE 255 * 4294967296.0 / h_k END AS union_est FROM f) " +
      "SELECT g_a, g_b, round(CAST(n_both AS DOUBLE) / kp, 4) AS jaccard_est, " +
      "round((CAST(n_both AS DOUBLE) / kp) * union_est, 4) AS inter_est, " +
      "round((CAST(n_a_only AS DOUBLE) / kp) * union_est, 4) AS a_only_est, " +
      "round((CAST(n_b_only AS DOUBLE) / kp) * union_est, 4) AS b_only_est " +
      "FROM fu ORDER BY g_a, g_b"

  /** HLL ground truth — register = top 9 bits of the 32-bit md5 hash,
    * rho via ltrim-of-bin (integer-exact), bias-corrected harmonic
    * mean + linear-counting branch, every double exact. Shared by the
    * direct sketch (text_hll_vocab) and the shard-merge path
    * (text_hll_merged): max is associative+idempotent, so both must
    * produce THIS estimate bit-for-bit. */
  private[certs] val hllVocabSql =
    "WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents), " +
      "h AS (SELECT lang, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS hv FROM tok), " +
      "r AS (SELECT lang, CAST(hv // 8388608 AS INT) AS register, " +
      "max(24 - length(ltrim(bin(hv % 8388608), '0'))) AS max_rho FROM h GROUP BY 1, 2), " +
      "e AS (SELECT lang, count(*) AS np, sum(power(2.0, -max_rho)) AS sp FROM r GROUP BY lang) " +
      "SELECT lang, round(CASE WHEN raw <= 1280.0 AND (512.0 - np) > 0 " +
      "THEN 512.0 * ln(512.0 / (512.0 - np)) ELSE raw END, 4) AS n_est " +
      "FROM (SELECT lang, np, sp, (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 / " +
      "((512.0 - np) + sp) AS raw FROM e) ORDER BY lang"

  /** The unigram-LM (SentencePiece hard-EM) chain replayed in SQL:
    * seed vocab → Viterbi DP (one MATERIALIZED CTE per position, the
    * Lineage-cut twin) → path recount → second Viterbi. Costs are
    * float-quantized before every comparison; DP ties break
    * (cost, piece length DESC, piece) exactly as the engine does. */
  private val unigramLmSql: String = {
    def dp(pre: String, cand: String, out: String, maxWordLen: Int): String = {
      val d0 = s"${out}0 AS (SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS cost, '' AS path FROM $pre)"
      val steps = (1 to maxWordLen).map { j =>
        val p = s"$out${j - 1}"
        s"$out$j AS MATERIALIZED (SELECT word, pos, cost, path FROM (" +
          s"SELECT d.word AS word, c.end_pos AS pos, d.cost + c.nlp AS cost, " +
          "CASE WHEN d.path = '' THEN c.span ELSE d.path || '|' || c.span END AS path, " +
          "row_number() OVER (PARTITION BY d.word " +
          "ORDER BY d.cost + c.nlp, length(c.span) DESC, c.span) AS rn " +
          s"FROM $p d JOIN $cand c ON c.word = d.word AND c.pred_pos = d.pos AND c.end_pos = $j) " +
          s"WHERE rn = 1 UNION ALL SELECT word, pos, cost, path FROM $p)"
      }
      (d0 +: steps).mkString(", ")
    }
    "uw AS MATERIALIZED (SELECT word, count(*) AS freq FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE length(word) <= 8 AND length(word) >= 1 GROUP BY word), " +
      "usp AS MATERIALIZED (SELECT word, e AS end_pos, e - l AS pred_pos, " +
      "substr(word, e - l + 1, l) AS span " +
      "FROM uw, unnest(range(1, least(4, length(word)) + 1)) AS t1(l), " +
      "unnest(range(l, length(word) + 1)) AS t2(e)), " +
      "useed AS (SELECT span, sum(freq) AS pfreq FROM usp JOIN uw USING (word) GROUP BY span), " +
      "utop AS (SELECT span AS piece, pfreq FROM useed " +
      "QUALIFY row_number() OVER (ORDER BY pfreq DESC, span) <= 32 OR length(span) = 1), " +
      "up1 AS MATERIALIZED (SELECT piece, " +
      "CAST(CAST(-ln(CAST(pfreq AS DOUBLE) / t) AS FLOAT) AS DOUBLE) AS nlp " +
      "FROM utop CROSS JOIN (SELECT CAST(sum(pfreq) AS DOUBLE) AS t FROM utop) tt), " +
      "uc1 AS MATERIALIZED (SELECT s.word, s.end_pos, s.pred_pos, s.span, p.nlp " +
      "FROM usp s JOIN up1 p ON s.span = p.piece), " +
      dp("uw", "uc1", "ud", 8) + ", " +
      "uf1 AS MATERIALIZED (SELECT d.word, w.freq, d.path FROM ud8 d " +
      "JOIN uw w USING (word) WHERE d.pos = length(d.word)), " +
      "ucnt AS (SELECT piece, sum(freq) AS pfreq FROM " +
      "(SELECT freq, unnest(string_split(path, '|')) AS piece FROM uf1) GROUP BY piece), " +
      "up2 AS MATERIALIZED (SELECT piece, " +
      "CAST(CAST(-ln(CAST(pfreq AS DOUBLE) / t) AS FLOAT) AS DOUBLE) AS nlp " +
      "FROM ucnt CROSS JOIN (SELECT CAST(sum(pfreq) AS DOUBLE) AS t FROM ucnt) tt), " +
      "uc2 AS MATERIALIZED (SELECT s.word, s.end_pos, s.pred_pos, s.span, p.nlp " +
      "FROM usp s JOIN up2 p ON s.span = p.piece), " +
      dp("uw", "uc2", "ue", 8) + ", " +
      "uf2 AS (SELECT d.word, w.freq, d.path FROM ue8 d " +
      "JOIN uw w USING (word) WHERE d.pos = length(d.word))"
  }

  private val lrChainSql: String = {
    // every per-iteration CTE is MATERIALIZED: lw(t-1) is referenced
    // twice (gradient + update), so plain inlining would double the
    // expression tree per iteration — a 2^20 planner blowup (the SQL
    // twin of the Lineage-cut discipline)
    def iter(t: Int): String = {
      val p = s"lw${t - 1}"
      s"lg$t AS MATERIALIZED (SELECT " +
        (0 to 3).map(j => s"CAST(CAST(sum((s - y) * x$j) AS FLOAT) AS DOUBLE) AS g$j").mkString(", ") +
        " FROM (SELECT y, x0, x1, x2, x3, " +
        "CAST(CAST(1.0/(1.0 + exp(-(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3))) AS FLOAT) AS DOUBLE) AS s " +
        s"FROM lrf CROSS JOIN $p w)), " +
        s"lw$t AS MATERIALIZED (SELECT " +
        (0 to 3).map(j => s"CAST(CAST(w.w$j - 10.0*g.g$j/n.n AS FLOAT) AS DOUBLE) AS w$j").mkString(", ") +
        s" FROM $p w CROSS JOIN lg$t g CROSS JOIN lrn n)"
    }
    // MATERIALIZED: inlining the corpus scan into all 20 iteration
    // CTEs would open the parquet once per reference (fd exhaustion)
    "lrf AS MATERIALIZED (SELECT doc_id, " +
      "CASE WHEN nt BETWEEN 20 AND 80 AND mtl BETWEEN 3.0 AND 9.0 AND sr > 0 " +
      "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y, " +
      "CAST(1.0 AS DOUBLE) AS x0, abs(nt - 50.0)/50.0 AS x1, abs(mtl - 6.0)/6.0 AS x2, sr AS x3 " +
      "FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt, " +
      "CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mtl, " +
      "CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(string_split(text, ' ')) AS sr " +
      "FROM documents)), " +
      "lrn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM lrf), " +
      "lw0 AS (SELECT " + (0 to 3).map(j => s"CAST(0.0 AS DOUBLE) AS w$j").mkString(", ") + "), " +
      (1 to 20).map(iter).mkString(", ")
  }

  /** BM25 chain over the five literal queries — shared by
    * `text_bm25_topk` (one-shot) and `store_bm25_roundtrip` (persisted
    * index), which must answer identically. */
  private[certs] lazy val bm25TopkSql: String = bm25TopkSqlOver("documents")

  /** `corpus` swaps the indexed collection — the oracle form of
    * document erasure (store_bm25_forget): the whole chain, collection
    * stats included, re-derives from the surviving corpus. */
  private[certs] def bm25TopkSqlOver(corpus: String): String =
    "WITH q(q_id, q_text) AS (VALUES (0, 'hash join'), (1, 'window scan fast'), " +
      "(2, 'customer order batch'), (3, 'vector merge slow'), (4, 'filter row')), " +
      s"tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $corpus), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), " +
      "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), " +
      s"st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM $corpus) AS n, " +
      "(SELECT avg(dl) FROM dl) AS avgdl), " +
      "qt AS (SELECT DISTINCT q_id, unnest(string_split(q_text, ' ')) AS term FROM q), " +
      "post AS (SELECT tf.* FROM tf JOIN (SELECT DISTINCT term FROM qt) USING (term)), " +
      "dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term), " +
      "sc AS (SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, " +
      s"round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ${1.2 + 1}) / " +
      "(tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
      "FROM qt JOIN post USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) " +
      "CROSS JOIN st GROUP BY 1, 2) " +
      "SELECT q_id, doc_id, score, " +
      "CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INT) AS rank " +
      "FROM sc QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) <= 10 " +
      "ORDER BY q_id, rank"
}
