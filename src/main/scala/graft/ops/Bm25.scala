package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval over an inverted index built as relational
  * frames — the lexical-search operator a data pipeline uses for
  * query-based corpus exploration and decontamination-by-retrieval.
  *
  * The "index" is nothing exotic: a postings frame (term, doc_id, tf),
  * a doc-length frame, and a document-frequency frame — all plain
  * aggregates of the token explode, each shuffled on its natural key.
  * Scoring joins the (tiny, broadcast) query-term list against the
  * postings ON TERM — the corpus is touched only at the posting rows
  * of query terms, never scanned per query; cost ∝ Σ df(query terms),
  * the inverted-index contract. Per-(query, doc) scores sum the
  * per-term parts; top-k resolves with a per-query window over only
  * the scored candidates.
  *
  * Determinism: ordering uses the ROUNDED score (4 dp) with doc_id
  * tiebreak, so the ≤1-ulp aggregation-order noise of the double sum
  * cannot flip ranks between engines — near-ties become exact ties and
  * the id decides (the same discipline as the cosine top-k paths).
  * The BM25 constants are interpolated into the oracle SQL from the
  * SAME Scala doubles (`k1 + 1` in Scala is 2.2000000000000002 — a
  * hand-written 2.2 in SQL would silently disagree).
  *
  * idf uses the Lucene-style lower-bounded form
  * ln(1 + (N - df + 0.5)/(df + 0.5)), never negative for df ≤ N.
  */
object Bm25 {

  /** Top-`k` docs per query. `docs` must carry (doc_id, text); `queries`
    * (q_id, q_text). Returns (q_id, doc_id, score, rank).
    *
    * This one-shot form re-derives tf/dl from the text per call (the
    * corpus is tokenized for the postings AND the lengths); a serving
    * deployment materializes both frames once as stored index tables —
    * the [[AnnIndex]] persistence pattern — and scoring then reads
    * only the query terms' postings. */
  def topK(docs: DataFrame, queries: DataFrame, k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    // term frequencies materialized ONCE (the jaccardPairs postings
    // discipline): dl, avgdl, df and the scoring join all read these
    // blocks — without the cut, the avgdl scalar, the postings
    // restriction and the doc-length join each re-run
    // tokenize+explode+aggregate over the corpus (for the chunk-level
    // RAG caller that is re-chunking the corpus per consumer)
    val tf = Lineage.cut(
      tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // two O(1) corpus scalars (the embBits-style exception): the doc
    // count and average length parameterize every score
    val n = docs.count()
    val avgdl = dl.agg(avg(col("dl"))).head().getDouble(0)
    val qterms = queries
      .select(col("q_id"), explode(TextOps.tokens(col("q_text"))).as("term"))
      .distinct()
    // postings restricted to query terms FIRST — df and scoring both
    // derive from this query-proportional frame; the full vocabulary's
    // document frequencies are never aggregated, let alone broadcast
    val post = tf.join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
    val dfq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val part = idf * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    broadcast(qterms)
      .join(post, Seq("term"))
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(part), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persist the inverted index — the serving deployment the [[topK]]
    * scaladoc promises, mirroring [[AnnIndex]]: tokenize the corpus
    * ONCE into three stored frames and answer every later query from
    * them without re-reading a single document.
    *   - `postings/` (term, doc_id, tf) — partitioned by term, the
    *     only frame a query's joins touch beyond doc lengths
    *   - `doclens/`  (doc_id, dl)
    *   - `meta/`     (n, avgdl) — the two corpus scalars, stored as
    *     the exact doubles scoring interpolates
    * The raw text is deliberately not part of the index (the AnnIndex
    * raw-vector rule): postings are integers keyed by term and doc id,
    * a fraction of corpus bytes. */
  def writeIndex(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val tok = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // the doc count is independent of the postings build — overlap the
    // two jobs (guide §2.6) instead of running them back to back
    var n = 0L
    graft.streaming.Overlap.awaitAll(Seq(
      () => tf.write.mode("overwrite").parquet(s"$dir/postings"),
      () => n = docs.count()))
    // doc lengths and avgdl derive from the frames JUST WRITTEN — the
    // values are bit-identical (exact integer sums either way) but the
    // derivation reads columnar integers back instead of re-running
    // tokenize+explode+aggregate over the corpus once per derived
    // frame, which at 100 TB is the difference between an index build
    // that scans text once and one that scans it three times
    val dl = spark.read.parquet(s"$dir/postings")
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    dl.write.mode("overwrite").parquet(s"$dir/doclens")
    val avgdl = spark.read.parquet(s"$dir/doclens")
      .agg(avg(col("dl"))).head().getDouble(0)
    import spark.implicits._
    Seq((n, avgdl)).toDF("n", "avgdl")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Document erasure on the stored index: delete the posting and
    * doc-length rows AND restate the collection stats (n, avgdl)
    * from the remaining doc-length table. Unlike the ANN delete
    * (frozen aggregate model, retrain scheduled), BM25 has no frozen-
    * model escape hatch — idf's n and the length norm's avgdl are
    * corpus-level terms in every surviving score, so stats must
    * follow the corpus; df already does (computed at query time from
    * postings). Assumes every indexed doc carries ≥1 token (the
    * restatement counts doc-length rows where writeIndex counted
    * docs). Anti-join rewrites materialized before the overwrite. */
  def removeDocs(spark: org.apache.spark.sql.SparkSession, dir: String,
                 ids: DataFrame): Unit = {
    val gone = ids.select(col("doc_id"))
    // the two anti-join rewrites are independent reads of different
    // frames, and once materialized the three writes (postings,
    // doclens, restated meta) touch disjoint dirs — overlap each wave
    // (guide §2.6) instead of paying five serial scheduler round-trips
    var posts: DataFrame = null
    var dl: DataFrame = null
    graft.streaming.Overlap.awaitAll(Seq(
      () => posts = Lineage.cut(spark.read.parquet(s"$dir/postings")
        .join(gone, Seq("doc_id"), "left_anti")),
      () => dl = Lineage.cut(spark.read.parquet(s"$dir/doclens")
        .join(gone, Seq("doc_id"), "left_anti"))))
    import spark.implicits._
    graft.streaming.Overlap.awaitAll(Seq(
      () => posts.write.mode("overwrite").parquet(s"$dir/postings"),
      () => dl.write.mode("overwrite").parquet(s"$dir/doclens"),
      () => {
        val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).head()
        Seq((stats.getLong(0), stats.getDouble(1))).toDF("n", "avgdl")
          .write.mode("overwrite").parquet(s"$dir/meta")
      }))
    Seq(posts, dl).foreach(org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint)
  }

  /** Top-`k` served entirely from a stored index — identical arithmetic
    * to [[topK]] (same joins, same rounded-score ordering), so the two
    * paths answer bit-identically: store_bm25_roundtrip certifies this
    * against text_bm25_topk's unchanged oracle. */
  def topKFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queries: DataFrame, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = spark.read.parquet(s"$dir/postings")
    val dl = spark.read.parquet(s"$dir/doclens")
    val meta = spark.read.parquet(s"$dir/meta").head()
    val (n, avgdl) = (meta.getAs[Long]("n"), meta.getAs[Double]("avgdl"))
    val qterms = queries
      .select(col("q_id"), explode(TextOps.tokens(col("q_text"))).as("term"))
      .distinct()
    val post = tf.join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
    val dfq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val part = idf * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    broadcast(qterms)
      .join(post, Seq("term"))
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(part), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
