package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, token counting, term frequency,
  * quality scoring, language-ID heuristic, document fingerprinting.
  *
  * Everything is built-in Column expressions (split / higher-order
  * functions / md5) — codegen'd, no UDFs, no driver-side loops. At
  * 100 TB these are narrow map stages plus one aggregation shuffle where
  * a groupBy appears; term frequency is the only op with a potentially
  * hot key distribution (stopwords) and relies on map-side partial
  * aggregation to keep the shuffle small.
  */
object TextOps {

  /** A constant-but-unfoldable window partition key for the DELIBERATE
    * single-partition windows in this file (all over frames of at most
    * a few dozen rows). A bare `lit(0)` is constant-folded OUT of the
    * partition spec, which re-empties it and re-fires WindowExec's "No
    * Partition Defined" WARN into every bench log — burying real
    * single-partition regressions (so is `coalesce(lit(0), rand())`:
    * Catalyst's Coalesce simplification truncates at the first
    * non-nullable child and the remaining literal folds away —
    * verified against the optimized windowspecdefinition). `pmod(hash
    * (c), 1)` is 0 for every row but anchored on a real column through
    * an opaque hash, so no current rule can fold it; the per-row cost
    * is one hash over a ≤few-dozen-row frame. */
  private def onePartitionKey(c: Column): Column = pmod(hash(c), lit(1))

  /** Whitespace tokenizer (single-space contract of the corpus; a
    * BPE-ish regex tokenizer is `tokensRegex`). */
  def tokens(text: Column): Column = split(text, " ")

  /** Text normalization — run BEFORE tokens/shingles/fingerprints so
    * byte-distinct but canonically-equal texts dedup as one document:
    * case folding, zero-width/soft-hyphen strip (ZWSP/ZWNJ/ZWJ/BOM/SHY,
    * the invisibles that defeat exact and near dedup), whitespace
    * collapse, trim. Stays in codegen'd built-ins (lower /
    * regexp_replace with explicit character classes — `\s` differs
    * between regex engines) so every rule is oracle-expressible; full
    * Unicode NFC (java.text.Normalizer) would need a custom Expression
    * and is deliberately out of this subset. Thread it with
    * `docs.withColumn("text", TextOps.normalize(col("text")))` ahead of
    * any downstream op. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\u200B\\u200C\\u200D\\uFEFF\\u00AD]", ""),
      "[ \t\n\r\f]+", " "))

  /** Markup extraction — the crawl-pipeline stage BEFORE any text
    * analysis: container blocks whose content is never prose
    * (script/style) go first, content-wise; then every remaining tag;
    * then the four entities a text extractor must decode; then
    * whitespace collapse. Map-only codegen'd built-ins, and every
    * pattern is RE2-safe (non-greedy + inline (?s), no lookaround) so
    * the oracle replays it verbatim — the certified subset of what
    * trafilatura-class extractors do, not a DOM parser (block-level
    * text-density scoring needs one and is out of this subset by
    * design). */
  def stripMarkup(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?s)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    // &amp; decodes LAST or "&amp;lt;" would double-decode to "<"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, ch)) => replace(c, lit(e), lit(ch)) }
    trim(regexp_replace(decoded, "[ \t\n\r\f]+", " "))
  }

  /** Per-document stats over the normalized text: char/token counts and
    * the content hash exact dedup would group on after normalization. */
  def normalizedStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normalize(col("text")).as("nt"))
      .select(
        col("doc_id"),
        length(col("nt")).as("n_chars_norm"),
        size(split(col("nt"), " ")).as("n_tokens_norm"),
        md5(col("nt")).as("norm_hash"))

  // PII scrubbing — every training-data pipeline redacts before it
  // trains. Pattern subset chosen for cross-engine parity (Java regex ==
  // RE2 semantics here: explicit classes, bounded repeats, \b word
  // boundaries, no lookaround — RE2 has none) so the scrub is
  // oracle-checkable. Replacement order is fixed (email → phone → IPv4);
  // the patterns cannot overlap, so order is cosmetic, but fixing it
  // keeps the composition deterministic. All codegen'd built-ins — at
  // 100 TB this is a narrow map over the text column, no shuffle.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, NANP-style phone numbers, and IPv4 addresses with
    * typed placeholder tokens. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Per-kind redaction counts for audit trails / filtering docs whose
    * PII density is too high to salvage. */
  def piiCounts(text: Column): Column =
    struct(
      size(regexp_extract_all(text, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(text, lit(PhoneRe), lit(0))).as("n_phones"),
      size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).as("n_ips"))

  /** Regex tokenizer: words / numbers / single punctuation, the shape a
    * BPE pre-tokenizer produces. */
  def tokensRegex(text: Column): Column =
    filter(split(text, "[^A-Za-z0-9']+"), t => length(t) > 0)

  /** Per-document token statistics: token count, char count, mean token
    * length — the backbone of length-based quality filters. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      length(col("text")).as("n_chars"),
      round(
        length(replace(col("text"), lit(" "), lit(""))).cast("double") / size(toks),
        4).as("avg_token_len"))
  }

  /** Per-document composite quality score — the standard pre-training
    * filter signals in one pass: length band, mean token length band,
    * stopword presence. Deterministic integer/ratio arithmetic. */
  def qualityScores(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val meanLen = length(replace(col("text"), lit(" "), lit(""))).cast("double") / nTokens
    val stopRatio = stopHits(toks, enStop).cast("double") / nTokens
    docs.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      round(meanLen, 4).as("mean_token_len"),
      round(stopRatio, 4).as("stop_ratio"),
      // score: in-band length (20..80 tokens) + plausible word length
      // (3..9 chars) + any stopwords present
      (when(nTokens.between(20, 80), 1).otherwise(0) +
        when(meanLen.between(3.0, 9.0), 1).otherwise(0) +
        when(stopRatio > 0, 1).otherwise(0)).as("quality_score"))
  }

  /** Corpus-level term frequency: explode → count. Top-n with a
    * deterministic (count desc, word asc) order. */
  def termFrequency(docs: DataFrame, topN: Int): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(topN)

  /** Unigram language-model quality score: per-document cross-entropy
    * against the corpus's own unigram distribution,
    * avg over tokens of −ln(freq(w)/N). The cheap stand-in for
    * perplexity-based quality filtering — documents full of rare or
    * garbled tokens score high, boilerplate scores low — and a standard
    * pre-training corpus signal. Plan shape at 100 TB: one explode +
    * one vocabulary aggregate (map-side combined), then a token→freq
    * equi-join (vocabulary is orders of magnitude smaller than the
    * corpus — AQE broadcasts it) and a per-doc aggregate. No windows,
    * no driver loops. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val tok = withTokens(docs).select(col("doc_id"), explode(col("words")).as("word"))
    val freq = tok.groupBy(col("word")).agg(count(lit(1)).as("f"))
    val total = tok.agg(count(lit(1)).as("n"))
    tok.join(freq, Seq("word"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        round(avg(-log(col("f").cast("double") / col("n"))), 4).as("avg_neg_logp"))
  }

  /** Interpolated bigram language model: avg over a doc's bigrams of
    * −ln(λ·P(w|prev) + μ·P(w)), with both distributions estimated from
    * the corpus itself (P(w|prev) = count(prev,w)/count(prev)). The
    * unigram interpolation floor is what makes unseen-in-context
    * bigrams scoreable — plain MLE would assign −ln(0). λ and μ are
    * both explicit (pass μ = 1−λ yourself): deriving μ in code would
    * bake 1−0.7 = 0.30000000000000004 into the plan while the oracle
    * says 0.3 — an engine-parity bug, not a style choice.
    *
    * Plan shape at 100 TB: bigrams come from ONE lag window per doc
    * (shuffle by doc_id — the partitioning tokenization already has),
    * the two count tables are map-side-combined aggregates that AQE
    * broadcasts back, and the per-doc score is a plain aggregate. The
    * word-string join keys would become digests at vocabulary scale —
    * same swap as the shingle pipeline's md5 postings. */
  def bigramLogProb(docs: DataFrame, lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val tok = withTokens(docs)
      .select(col("doc_id"), explode(col("words")).as("word"))
    // bigram pairs off the native 2-shingle generator (map-only; the
    // lag-window formulation shuffled and sorted every token) — a
    // token never contains the space it was split on, so the
    // substring_index split-back is exact
    val big = shinglePostingsWithPos(docs, 2)
      .select(col("doc_id"),
        substring_index(col("shingle"), " ", 1).as("prev"),
        substring_index(col("shingle"), " ", -1).as("word"))
    val uni = tok.groupBy(col("word")).agg(count(lit(1)).as("uf"))
    val total = tok.agg(count(lit(1)).as("n"))
    val bi = big.groupBy(col("prev"), col("word")).agg(count(lit(1)).as("bf"))
    big
      .join(bi, Seq("prev", "word"))
      .join(uni.select(col("word").as("prev"), col("uf").as("pf")), Seq("prev"))
      .join(uni, Seq("word"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_bigrams"),
        round(avg(-log(
          lit(lambda) * col("bf").cast("double") / col("pf") +
            lit(mu) * col("uf").cast("double") / col("n"))), 4).as("avg_neg_logp"))
  }

  private[ops] val enStop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val deStop = Seq("der", "die", "das", "und", "ist", "ein")
  private val esStop = Seq("el", "la", "de", "y", "que", "un")

  private def stopHits(words: Column, stops: Seq[String]): Column =
    size(filter(words, w => w.isInCollection(stops)))

  /** Quality metrics per language: doc counts, mean length, stopword
    * ratio (fluency proxy), punctuation ratio. */
  def qualityByLang(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val perDoc = docs.select(
      col("lang"),
      col("n_chars"),
      size(toks).as("n_tokens"),
      (stopHits(toks, enStop).cast("double") / size(toks)).as("stop_ratio"),
      (length(col("text")) - length(replace(replace(col("text"), lit(","), lit("")), lit("."), lit(""))))
        .cast("double").divide(length(col("text"))).as("punct_ratio"))
    perDoc
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"),
        round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"),
        round(avg(col("punct_ratio")), 4).as("avg_punct_ratio"))
  }

  /** Language-ID heuristic: stopword-list hit counting per candidate
    * language, argmax with a fixed precedence order. (An n-gram profile
    * model is the production version; hit-counting is its 1-gram
    * degenerate case and stays fully inside codegen.) */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val en = stopHits(toks, enStop)
    val de = stopHits(toks, deStop)
    val es = stopHits(toks, esStop)
    docs.select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      when(en >= de && en >= es, "en")
        .when(de >= es, "de")
        .otherwise("es").as("guessed_lang"))
  }

  /** Word n-gram shingles (default 3) — the unit of near-dup detection.
    * Guarded so short docs yield an empty set, not a negative range.
    *
    * ⚠ Pass a MATERIALIZED array column (see [[withTokens]]), never the
    * `split(...)` expression inline: HOF lambdas evaluate interpreted,
    * and an inlined split gets re-executed for every `element_at`
    * reference — O(tokens²) per document (measured: a 70× slowdown at
    * sf0.1 with one executor thread pinned in UTF8String.split). */
  def shingles(words: Column, n: Int = 3): Column =
    when(size(words) >= n,
      transform(
        sequence(lit(1), size(words) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(words, i + lit(j))): _*)))
      .otherwise(array())

  /** (doc_id, words) with the token array materialized in its own
    * projection — CollapseProject keeps the alias because it is
    * non-cheap and multiply referenced, so downstream shingle assembly
    * reads the array O(1) per element. Also spreads the corpus across
    * the cluster first: generator-heavy stages amplify rows, so
    * parallelism must be fixed BEFORE the explode (a single-file corpus
    * otherwise runs the whole generator in one task). */
  def withTokens(docs: DataFrame): DataFrame = {
    // only repartition when the input is UNDER-parallel (single-file
    // corpus): at 100 TB the input splits already parallelize and an
    // unconditional repartition would shuffle the whole raw corpus.
    // inputFiles is a logical-plan probe — unlike .rdd.getNumPartitions
    // it doesn't instantiate the physical RDD lineage on every call
    // (this helper runs once per consumer). Non-file inputs (in-memory
    // test frames) report 0 files and skip the spread: they are local
    // and tiny by construction.
    val target = docs.sparkSession.sparkContext.defaultParallelism
    val nFiles = docs.inputFiles.length
    val spread =
      if (nFiles > 0 && nFiles < target) docs.repartition(target) else docs
    spread.select(col("doc_id"), tokens(col("text")).as("words"))
  }

  /** Context-window chunking — the op that turns documents into
    * training examples: fixed `chunkSize`-token windows starting every
    * `stride` tokens (overlap = chunkSize - stride; trailing windows
    * shorter than chunkSize are kept with their true token count). One
    * narrow explode per doc, no shuffle — at 100 TB this is a map-only
    * stage whose output is already the training-shard shape. `slice` +
    * `concat_ws` over the materialized token array stay codegen'd. */
  def chunks(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    withTokens(docs)
      .select(col("doc_id"), col("words"),
        explode(sequence(lit(0), greatest(size(col("words")) - 1, lit(0)), lit(stride)))
          .as("chunk_start"))
      .select(
        col("doc_id"), col("chunk_start"),
        least(lit(chunkSize), size(col("words")) - col("chunk_start")).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("words"), col("chunk_start") + 1, lit(chunkSize))).as("chunk_text"))
      .filter(col("n_chunk_tokens") > 0)
  }

  /** Pack chunked docs into ~`budget`-token training sequences, per
    * doc: chunks are taken in order and assigned to sequence
    * floor(tokens_before / budget) — a sequence may overflow by at most
    * one chunk's tail, never undershoot-split. Use stride == chunkSize
    * chunks (non-overlapping) as input. The only shuffle is the
    * per-doc window partition, which 100 TB parallelizes on doc_id. */
  def packChunks(chunked: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("chunk_start"))
    chunked
      .withColumn("cum_before",
        sum(col("n_chunk_tokens")).over(w) - col("n_chunk_tokens"))
      .withColumn("seq_id", floor(col("cum_before") / budget))
      .groupBy(col("doc_id"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("seq_tokens"))
  }

  /** TF-IDF with smoothed idf = ln((N+1)/(df+1)), top `topPerDoc` terms
    * per document (ties broken by word so the result is total-ordered).
    * Shuffle profile at 100 TB: the (doc, word) tf agg partial-combines
    * map-side; df is one vocabulary-sized agg over the already-compact
    * tf table; the scalar N rides in as a 1-row broadcast; the final
    * per-doc window re-uses the tf shuffle's doc co-location. */
  def tfidf(docs: DataFrame, topPerDoc: Int): DataFrame = {
    val tf = withTokens(docs)
      .select(col("doc_id"), explode(col("words")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word"))
    tf.join(dfreq, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topPerDoc)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Keep the smallest score-threshold cohort covering at least `frac`
    * of the corpus. This is the scale-correct exact top-fraction
    * filter: a global percent_rank would funnel the corpus through one
    * window partition, whereas the score histogram is tiny (scores are
    * small ints), its cumulative scan runs on a handful of rows, and
    * the derived threshold broadcasts back onto the corpus as a
    * map-only filter. All boundary-score docs are kept (no arbitrary
    * tie-break), so the kept fraction is ≥ frac. */
  def qualityFilter(docs: DataFrame, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0,1]")
    val scored = qualityScores(docs)
    val hist = scored.groupBy(col("quality_score")).agg(count(lit(1)).as("cnt"))
    // ≤4-row frame: the single-partition window is deliberate and
    // cheap; partitioning on onePartitionKey keeps WindowExec's "No
    // Partition Defined" WARN out of bench logs, where it would mask
    // REAL single-partition regressions
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(onePartitionKey(col("quality_score")))
      .orderBy(col("quality_score").desc)
    val thr = hist
      .withColumn("cum_ge", sum(col("cnt")).over(cumW))
      .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n_total"))))
      .filter(col("cum_ge").cast("double") >= col("n_total") * lit(frac))
      .agg(max(col("quality_score")).as("q_threshold"))
    scored
      .crossJoin(broadcast(thr))
      .filter(col("quality_score") >= col("q_threshold"))
  }

  /** Cross-document training-shard assignment: docs in doc_id order
    * are packed into consecutive `budget`-token shards (shard =
    * floor(tokens-before / budget)). The naive formulation is a GLOBAL
    * running sum — a single-partition window that serializes the whole
    * corpus through one task. This is the distributed prefix-scan
    * instead: range-partition by doc_id (contiguous ranges, ordered
    * partition ids), cum-sum WITHIN each partition in parallel, and
    * add each partition's broadcast offset (running total of the tiny
    * per-partition sums). Exactly equal to the global scan — where the
    * sampled range bounds land cannot change any row's result — but
    * every stage is parallel and the only global object is one row per
    * partition. */
  def shardAssignments(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
    // Materialize ONCE before branching: correctness requires the
    // offsets branch and the join branch to observe the SAME physical
    // partitioning (pid values). Two references to the same
    // repartitionByRange subtree normally dedup into one reused
    // exchange, but that reuse is best-effort (exchangeReuse off, AQE
    // re-planning) and the range partitioner's sampling is seeded per
    // RDD — two independent exchanges could disagree on bounds. The
    // checkpoint pins one materialized partitioning both branches
    // read.
    val toks = Lineage.cut(withTokens(docs)
      .select(col("doc_id"), size(col("words")).as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id()))
    val offsets = toks.groupBy(col("pid")).agg(sum(col("n_tokens")).as("ptotal"))
      // ≤(shuffle partitions) rows: the single-partition window is
      // deliberate; onePartitionKey silences the WindowExec WARN
      // (same reasoning as qualityFilter's histogram scan)
      .withColumn("offset",
        coalesce(sum(col("ptotal")).over(w.partitionBy(onePartitionKey(col("pid"))).orderBy(col("pid"))) - col("ptotal"), lit(0L)))
      .select(col("pid"), col("offset"))
    toks.join(broadcast(offsets), Seq("pid"))
      .withColumn("cum_before",
        sum(col("n_tokens")).over(w.partitionBy(col("pid")).orderBy(col("doc_id")))
          - col("n_tokens") + col("offset"))
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        floor(col("cum_before") / budget).as("shard_id"))
  }

  /** Per-language document-length distribution — the numbers quality
    * cutoffs are calibrated from. Exact interpolated percentiles
    * (`percentile`) so the result is oracle-checkable; at 100 TB swap
    * the aggregate for `percentile_approx` (t-digest sketch, fixed
    * memory, mergeable across partitions) — LengthQuantilesSpec pins
    * the approx path to the exact one within tolerance. */
  def lengthQuantiles(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      round(expr("percentile(n_chars, 0.25)"), 4).as("p25"),
      round(expr("percentile(n_chars, 0.50)"), 4).as("p50"),
      round(expr("percentile(n_chars, 0.75)"), 4).as("p75"),
      round(expr("percentile(n_chars, 0.95)"), 4).as("p95"))

  /** Repetition quality signals (the Gopher-rules family): how much of
    * a document is the same content said again. `dup_token_ratio` =
    * 1 − distinct/total tokens (per-row `array_distinct`, no shuffle);
    * `top_bigram_ratio` = occurrences of the doc's most frequent
    * bigram over its bigram count (posting-list agg keyed on doc_id —
    * partial-combines map-side, so the shuffle carries one row per
    * distinct (doc, bigram), not per token). High values flag boiler-
    * plate/spam worth dropping before training. */
  def repetitionScores(docs: DataFrame): DataFrame = {
    val base = withTokens(docs).select(
      col("doc_id"),
      size(col("words")).as("n_tokens"),
      size(array_distinct(col("words"))).as("n_distinct"))
    val topBigram = shinglePostings(docs, 2)
      .groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_bigram_cnt"))
    base.join(topBigram, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("dup_token_ratio"),
        round(coalesce(col("top_bigram_cnt"), lit(0L)).cast("double") /
          greatest(col("n_tokens") - 1, lit(1)), 4).as("top_bigram_ratio"))
  }

  /** Flat (doc_id, shingle) postings via posexplode + lead windows — the
    * generation path for bulk near-dup work. Fully codegen'd (window +
    * concat, no HOF lambda, whose interpreted evaluation dominates cold
    * runs), one shuffle on doc_id, and already in the posting-list shape
    * the candidate joins consume. Multiset-identical to
    * `explode(shingles(words))`. */
  def shinglePostings(docs: DataFrame, n: Int = 3): DataFrame =
    shinglePostingsWithPos(docs, n).select(col("doc_id"), col("shingle"))

  /** Positional shingle postings (doc_id, pos, shingle) via the native
    * generator ([[graft.functions.ShingleGenerator]]): rows straight
    * off one token split under GenerateExec — MAP-ONLY. The previous
    * posexplode + per-doc lead-window formulation shuffled and SORTED
    * the entire token-level frame just to pair neighbors; at sf0.1
    * that is a 33% warm win where the shingle build dominates
    * (dedup_minhash_buckets 1.77 → 1.18 s) and neutral where the pair
    * join does (dedup_jaccard_pairs) — at 100 TB the removed exchange
    * is corpus-token-scale, the text family's single largest
    * avoidable shuffle. */
  def shinglePostingsWithPos(docs: DataFrame, n: Int): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    val nFiles = docs.inputFiles.length
    val spread =
      if (nFiles > 0 && nFiles < target) docs.repartition(target) else docs
    spread.select(col("doc_id"),
      graft.functions.ShingleGenerator.shingles(col("text"), n)
        .as(Seq("pos", "shingle")))
  }

  /** Document fingerprint: minimum md5 over the doc's 3-gram shingles —
    * a 1-band MinHash, i.e. a locality-sensitive rolling-hash signature.
    * Equal fingerprints ⇒ near-identical prefix content. Docs too short
    * to shingle keep a null fingerprint. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id")).join(
      shinglePostings(docs)
        .groupBy(col("doc_id"))
        .agg(min(md5(col("shingle"))).as("fingerprint")),
      Seq("doc_id"), "left")

  /** Cross-document duplicated-span fraction: for each document, the
    * fraction of its distinct n-gram shingles that also occur in at
    * least one OTHER document. The per-doc form of the "how much of the
    * corpus is repeated substrings" signal substring-level dedup
    * (suffix-array ExactSubstr in the literature) acts on — documents
    * with a high fraction are mostly assembled from text that exists
    * elsewhere, and span-level dedup would shrink them most; Jaccard /
    * MinHash can't see this class because the copies are spread across
    * MANY partners, no single pair exceeding any similarity threshold.
    *
    * Plan shape at 100 TB: distinct postings (shuffle on doc_id from
    * tokenization, then on shingle), one shingle-frequency aggregate
    * (map-side combined), an equi-join of postings back to that
    * aggregate on the SAME shingle partitioning (no extra exchange),
    * and a per-doc aggregate. No windows over the corpus, no pair
    * explosion — cost is linear in total postings regardless of how
    * duplicated the corpus is (unlike the pair joins, which a heavy
    * span would blow up quadratically). At vocabulary scale the
    * shingle string key becomes an md5 digest — same swap as the
    * posting pipeline. Docs too short to shingle have no spans and
    * drop out (same contract as the posting joins). */
  def dupSpanFraction(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = shinglePostings(docs, n).distinct()
    val docFreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(docFreq, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        round(avg(when(col("df") > 1, 1.0).otherwise(0.0)), 4).as("dup_fraction"))
  }

  /** Longest cross-document duplicated token SPAN per document — the
    * exact-substring-dedup signal (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): [[dupSpanFraction]] says how
    * MUCH of a doc is shared; this says how LONG its longest contiguous
    * shared run is, which is what substring-removal policies threshold
    * on (e.g. drop any 50+-token span that appears elsewhere).
    *
    * Suffix arrays are the sequential-world tool for this; the
    * relational equivalent keeps shingle POSITIONS and reduces maximal
    * runs with gaps-and-islands: a position is "duplicated" when its
    * n-gram occurs in ≥2 distinct docs, and a maximal run of
    * consecutive duplicated positions of length L covers L+n−1 tokens.
    * Correct because a duplicated token span of length ≥ n makes every
    * n-gram inside it duplicated (consecutive positions), and
    * conversely consecutive duplicated n-grams chain back into one
    * duplicated span — the pigeonhole that lets n-grams stand in for
    * suffixes.
    *
    * Plan shape at 100 TB: positional postings (the tokenization
    * shuffle's partitioning), one distinct + one keyed count for df,
    * one posting-list equi-join, one per-doc window for islands —
    * all linear in postings, no pair explosion, no suffix sort. String
    * shingle keys become md5 digests at vocabulary scale (the
    * fingerprints discipline). */
  def dupMaxRun(docs: DataFrame, n: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // positional postings off the native generator — map-only; the
    // only windows left are the islands passes over the df>1 subset
    val posts = shinglePostingsWithPos(docs, n)
    val docFreq = posts.select(col("doc_id"), col("shingle")).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // gaps-and-islands over the duplicated positions: consecutive pos
    // values share (pos - row_number), one group per maximal run
    val runs = posts.join(docFreq, Seq("shingle")).filter(col("df") > 1)
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("doc_id"))
      .agg(max(col("len")).as("mx"), count(lit(1)).as("nr"))
    docs.select(col("doc_id"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("mx") + (n - 1), lit(0)).cast("int").as("max_dup_span_tokens"),
        coalesce(col("nr"), lit(0)).cast("int").as("n_dup_spans"))
  }

  /** CCNet-style per-language perplexity terciles: rank every document
    * within its language by the unigram-LM score ([[unigramLogProb]] —
    * low avg −ln P means fluent/common text) and split each language
    * into equal-count thirds: `head` (most fluent), `middle`, `tail`.
    * This is the bucketing CCNet filters Common Crawl with (keep
    * head+middle, drop or downweight tail) — done per language so a
    * low-resource language is never graded on another language's LM.
    *
    * ntile is a true rank statistic, so it needs a per-language sort —
    * ONE window partitioned by lang (Spark sorts each language's
    * partition in parallel; lang cardinality is small but each
    * partition is corpus-scale/|langs|). At 100 TB replace the exact
    * tercile with a histogram-derived threshold per language (the
    * [[qualityFilter]] mechanism: scores are rounded to 4 decimals so
    * the per-(lang, score) histogram is tiny) and bucket by comparison
    * — same shape, no global sort; the ntile form is kept here because
    * its semantics (equal counts, ties split by doc_id) are exactly
    * portable to the oracle. */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_neg_logp"), col("doc_id"))
    unigramLogProb(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("avg_neg_logp"),
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Collocation extraction by pointwise mutual information:
    * pmi(a,b) = ln( p(a,b) / (p(a) p(b)) ) over adjacent token pairs,
    * the classic phrase-mining signal (Church & Hanks 1990; the same
    * statistic word2phrase uses to glue "new york" into one token
    * before tokenizer training). `minCount` suppresses the low-count
    * PMI pathology (a pair seen once between two hapaxes maxes the
    * statistic); top `k` by (pmi desc, pair asc) is total-ordered.
    *
    * Shuffle profile at 100 TB: the bigram and unigram aggregates both
    * partial-combine map-side, so what shuffles is the OBSERVED-
    * vocabulary-sized count tables, not the corpus; the two unigram
    * joins key on a vocab-sized table (shuffle-join — the vocabulary
    * of a web corpus is too big to broadcast, and after the
    * `minCount` filter the bigram side is the small one); the two
    * scalar totals ride in as a broadcast 1-row cross join. The ln is
    * evaluated on exact integer counts in one fixed association order
    * so the rounded statistic is engine-portable. */
  def pmiBigrams(docs: DataFrame, minCount: Int, k: Int): DataFrame = {
    val tok = withTokens(docs)
    val pairs = tok
      .select(explode(when(size(col("words")) >= 2,
        transform(sequence(lit(1), size(col("words")) - 1),
          i => struct(element_at(col("words"), i).as("w1"),
            element_at(col("words"), i + 1).as("w2"))))
        .otherwise(array())).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val uni = tok
      .select(explode(col("words")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_word"))
    val totals = pairs.agg(sum(col("n_pair")).as("b_total"))
      .crossJoin(uni.agg(sum(col("n_word")).as("t_total")))
    val w = Window.partitionBy(onePartitionKey(col("pmi")))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
    pairs.filter(col("n_pair") >= minCount)
      .join(uni.withColumnRenamed("word", "w1").withColumnRenamed("n_word", "n_w1"), Seq("w1"))
      .join(uni.withColumnRenamed("word", "w2").withColumnRenamed("n_word", "n_w2"), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(
          col("n_pair").cast("double") * col("t_total") * col("t_total") /
            (col("b_total").cast("double") * col("n_w1") * col("n_w2"))), 4)
          .as("pmi"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Dunning log-likelihood-ratio (G²) collocations — the
    * sparse-count-honest test beside [[pmiBigrams]]. PMI explodes for
    * rare pairs (a hapax bigram of two hapax words maxes the score);
    * G² (Dunning 1993) weighs the full 2×2 contingency of bigram
    * positions — (w1,w2), (w1,¬w2), (¬w1,w2), (¬w1,¬w2) — so evidence
    * mass matters and rare flukes rank below genuinely frequent
    * collocations. The standard phrase-mining scorer (word2vec's
    * phrase pass, NSP's likelihood ratios).
    *
    * Same frame shape as PMI: ONE bigram aggregate; marginals are
    * per-position re-aggregates of the pair counts (never a second
    * corpus pass); the 4-term G² is a fixed-order row-local double
    * expression (replayed token for token by the oracle — terms sum
    * left-to-right, each `k·ln(k·N/(R·C))`, zero-celled terms 0), and
    * ranking the minCount-filtered survivors runs through one bounded
    * window. At 100 TB the bigram aggregate is the cost; everything
    * after is vocabulary-scale. */
  def llrBigrams(docs: DataFrame, minCount: Int, k: Int): DataFrame = {
    val tok = withTokens(docs)
    val pairs = tok
      .select(explode(when(size(col("words")) >= 2,
        transform(sequence(lit(1), size(col("words")) - 1),
          i => struct(element_at(col("words"), i).as("w1"),
            element_at(col("words"), i + 1).as("w2"))))
        .otherwise(array())).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val first = pairs.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_first"))
    val second = pairs.groupBy(col("w2")).agg(sum(col("n_pair")).as("n_second"))
    val totals = pairs.agg(sum(col("n_pair")).as("b_total"))
    val n = col("b_total").cast("double")
    val ka = col("n_pair").cast("double")
    val kb = (col("n_first") - col("n_pair")).cast("double")
    val kc = (col("n_second") - col("n_pair")).cast("double")
    val kd = (col("b_total") - col("n_first") - col("n_second") + col("n_pair"))
      .cast("double")
    val r1 = col("n_first").cast("double")
    val c1 = col("n_second").cast("double")
    def term(kk: Column, r: Column, c: Column): Column =
      when(kk > 0, kk * log(kk * n / (r * c))).otherwise(lit(0.0))
    val g2 = lit(2.0) * (((term(ka, r1, c1) + term(kb, r1, n - c1)) +
      term(kc, n - r1, c1)) + term(kd, n - r1, n - c1))
    val w = Window.partitionBy(onePartitionKey(col("llr")))
      .orderBy(col("llr").desc, col("w1"), col("w2"))
    pairs.filter(col("n_pair") >= minCount)
      .join(first, Seq("w1")).join(second, Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"), round(g2, 4).as("llr"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** CCNet-style boilerplate scrub: the corpus is cut into
    * non-overlapping `chunkTokens`-token spans (the newline-free
    * stand-in for CCNet's paragraph unit), a span whose normalized
    * text occurs in ≥ `minDf` distinct documents is boilerplate
    * (navigation, license headers, cookie banners — content repeats
    * by value across unrelated pages), and every document is
    * REWRITTEN with its boilerplate spans deleted and the survivors
    * re-joined in document order. Output is the per-doc audit row:
    * span counts plus the md5 of the cleaned text.
    *
    * 100 TB shape: span df is one map-side-combined aggregate on the
    * span text (32-byte-hashable keys); the boilerplate verdict
    * returns to the spans as a shuffle join on the same key (the
    * df ≥ minDf set of a web corpus — every footer on the web — is
    * itself too big to broadcast); the doc rewrite is a per-doc
    * aggregate whose `array_sort`-by-offset runs on each doc's own
    * ≤ (len/chunkTokens)-element array, never a global sort. The
    * corpus text is never shuffled twice: spans carry only
    * (doc_id, offset, span_text). */
  def boilerplateScrub(docs: DataFrame, chunkTokens: Int, minDf: Int): DataFrame = {
    val spans = chunks(docs, chunkTokens, chunkTokens)
      .select(col("doc_id"), col("chunk_start"), col("chunk_text"))
    val df = spans
      .groupBy(col("chunk_text"))
      .agg(countDistinct(col("doc_id")).as("span_df"))
    spans
      .join(df, Seq("chunk_text"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_spans"),
        sum(when(col("span_df") >= minDf, 1).otherwise(0)).cast("int").as("n_dropped"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("span_df") < minDf,
            struct(col("chunk_start"), col("chunk_text"))))),
          s => s.getField("chunk_text")))).as("clean_hash"))
  }
}
