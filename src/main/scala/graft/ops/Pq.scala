package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with asymmetric distance computation (ADC)
  * — the standard way embedding corpora are compressed for search at
  * scale: split each D-dim vector into M subspaces of D/M dims, learn a
  * small codebook (k centroids) per subspace, and store each vector as
  * M one-byte codes. A 64-float vector becomes 4 bytes here — a 64×
  * compression — and at query time the corpus embeddings are NEVER
  * read: the query precomputes a (subspace, code) → partial-dot lookup
  * table against the codebooks, and a candidate's approximate score is
  * the sum of M table entries reached by joining its codes.
  *
  * Spark shape:
  *  - codebook training = the [[Ivf]] Lloyd loop, keyed by subspace:
  *    broadcast centroids → cosine argmax per (vec, subspace) → per-dim
  *    float-quantized mean. k·M·dsub cells total — tiny.
  *  - encode = one broadcast join + window argmax: (vec_id, m, code).
  *  - ADC = query subs × broadcast codebooks (|q|·M·k partial dots),
  *    then an equi-join with the codes on (m, code) and a fixed-order
  *    sum of the M parts per (query, vector) — deterministic across
  *    engines, unlike a float sum in shuffle order.
  *
  * At 100 TB the codes table is the only per-vector state the query
  * touches (M bytes/vector vs 4·D for floats), the ADC join shuffles
  * 2-int keys, and recall is tuned by k and M — orthogonal to the
  * IVF routing layer, which composes in front of this (IVF picks the
  * buckets, PQ scores the candidates).
  */
object Pq {

  private def dotD(a: Column, b: Column): Column =
    Similarity.dot(transform(a, x => x.cast("double")), transform(b, x => x.cast("double")))

  /** Sub-vector view: (vec_id, m, sub) for m in 0 until M. */
  def subVectors(corpus: DataFrame, nSub: Int, dsub: Int): DataFrame =
    corpus.select(col("vec_id"), explode(array((0 until nSub).map(i =>
      struct(lit(i).as("m"), slice(col("embedding"), i * dsub + 1, dsub).as("sub"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))

  /** Deterministic seed codebooks: the k lowest vec_ids' sub-vectors,
    * per subspace. */
  def seedCodebooks(subs: DataFrame, k: Int): DataFrame =
    subs.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("sub").as("centroid"))

  /** Assign every (vec, subspace) to its nearest codebook entry
    * (argmax cosine, code tiebreak) — the encode step.
    *
    * argmax as a skinny max_by hash aggregate (the Ivf.assign
    * discipline): the window formulation shuffles and sorts all
    * N×nSub×k candidate rows with the sub-vectors attached; the
    * partial aggregate reduces map-side and the winner's sub-vector
    * joins back. Ordering window-identical — maximizing
    * `(sim, -code)` ≡ `sim DESC, code ASC`, NaN ranks greatest in
    * both formulations — so the DuckDB row_number replay still
    * matches bit-for-bit. */
  def assignCodes(subs: DataFrame, codebooks: DataFrame): DataFrame = {
    val best = subs.join(broadcast(codebooks), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        Similarity.cosine(col("sub"), col("centroid")).as("sim"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max_by(col("code"), struct(col("sim"), negate(col("code")))).as("code"))
    subs.join(best, Seq("vec_id", "m"))
      .select(col("vec_id"), col("m"), col("sub"), col("code"))
  }

  /** Lloyd update per subspace: per-(m, code, dim) mean, float-quantized
    * (pins cross-engine aggregation-order noise, as in Ivf). */
  def updateCodebooks(assigned: DataFrame): DataFrame =
    assigned
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("dim", "v")))
      .groupBy(col("m"), col("code"), col("dim"))
      .agg(avg(col("v")).as("mean"))
      .groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mean")))).as("cells"))
      .select(col("m"), col("code"),
        transform(col("cells"), c => c.getField("mean").cast("float")).as("centroid"))

  /** Train codebooks (seed-assign + (iters-1) × update-assign, exactly
    * the Ivf schedule) and encode the corpus. Returns (codes, codebooks):
    * codes = (vec_id, m, code), the complete per-vector search state. */
  def encode(corpus: DataFrame, nSub: Int, dsub: Int, k: Int,
      iters: Int = 2): (DataFrame, DataFrame) = {
    // sub-vector explosion materialized once and per-iteration cuts —
    // the Ivf.index Lloyd discipline (see its scaladoc): both returned
    // frames are already cut, the tiny codebook frame is cut per round
    // so the superseded assignment frame is freeable
    val subs = Lineage.cut(subVectors(corpus, nSub, dsub))
    var books = Lineage.cut(seedCodebooks(subs, k))
    var assigned = Lineage.cut(assignCodes(subs, books))
    for (_ <- 1 until math.max(1, iters)) {
      books = Lineage.cut(updateCodebooks(assigned))
      val prev = assigned
      assigned = Lineage.cut(assignCodes(subs, books))
      Lineage.free(prev)
    }
    (assigned.select(col("vec_id"), col("m"), col("code")), books)
  }

  /** The per-query ADC lookup table: (q_id, m, code) → partial dot of
    * the query's m-th sub-vector with codebook entry (m, code). */
  private def adcTable(codebooks: DataFrame, queries: DataFrame, nSub: Int, dsub: Int): DataFrame =
    subVectors(queries.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")), nSub, dsub)
      .select(col("vec_id").as("q_id"), col("m"), col("sub").as("qsub"))
      .join(broadcast(codebooks), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        dotD(col("qsub"), col("centroid")).as("part"))

  /** Fixed-order part sum + per-query rank over scored (q_id, vec_id,
    * m, part) rows — summing m=0,1,… in a pinned order keeps the double
    * arithmetic reproducible on any engine. */
  private def sumAndRank(scored: DataFrame, nSub: Int, topK: Int): DataFrame = {
    val parts = (0 until nSub).map(i =>
      max(when(col("m") === i, col("part"))).as(s"p$i"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored
      .groupBy(col("q_id"), col("vec_id"))
      .agg(parts.head, parts.tail: _*)
      .select(col("q_id"), col("vec_id"),
        round((0 until nSub).map(i => col(s"p$i")).reduce(_ + _), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** ADC top-k over the WHOLE corpus: approximate inner product =
    * Σ_m dot(q_m, codebook[m, code_m]), reached purely through the
    * codes — the raw embeddings are never read. */
  def adcTopK(
      codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      nSub: Int, dsub: Int, topK: Int): DataFrame = {
    val table = adcTable(codebooks, queries, nSub, dsub)
    sumAndRank(
      codes.join(table, Seq("m", "code")).filter(col("vec_id") =!= col("q_id")),
      nSub, topK)
  }

  /** ADC top-k restricted to a candidate set (q_id, vec_id) — the
    * IVF-PQ composition: an IVF routing layer picks the buckets
    * ([[Ivf.route]] + the assignment equi-join), and only those
    * candidates' codes are scored. At 100 TB this is the whole game:
    * the scan is nprobe/k of the corpus and each candidate costs M
    * table lookups instead of a D-dim dot product. */
  def adcTopKWithin(
      candidates: DataFrame, codes: DataFrame, codebooks: DataFrame,
      queries: DataFrame, nSub: Int, dsub: Int, topK: Int): DataFrame = {
    val table = adcTable(codebooks, queries, nSub, dsub)
    sumAndRank(
      candidates
        .join(codes, Seq("vec_id"))
        .join(table, Seq("q_id", "m", "code")),
      nSub, topK)
  }
}
