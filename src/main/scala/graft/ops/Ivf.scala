package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index — the centroid-bucketed alternative to
  * sign-bit LSH (Similarity.signBucket): cluster the corpus with a few
  * Lloyd iterations, assign each vector to its nearest centroid, and at
  * query time probe only the `nprobe` nearest centroid buckets.
  *
  * Everything is declarative DataFrame ops:
  *  - assignment = corpus × broadcast(centroids) scored with the fused
  *    native cosine, argmin via a window rank — no UDFs, no driver math;
  *  - centroid update = posexplode to (cluster, dim, value) rows, mean
  *    per (cluster, dim), re-assembled with sort_array(collect_list) —
  *    deterministic regardless of row order.
  *
  * Scale: each Lloyd iteration is one broadcast join + one aggregation
  * over (cluster, dim) — k·dim cells, tiny. The corpus is never
  * shuffled except by cluster id at the end, which is exactly the
  * partitioning the probe-time join wants. Determinism: centroids are
  * seeded from the k lowest vec_ids and iteration count is fixed, so
  * the index is reproducible run-to-run.
  */
object Ivf {

  private def cos = graft.functions.VectorExpressions.cosineNative _

  /** Seed centroids: the k lowest-id vectors (deterministic). */
  def seedCentroids(corpus: DataFrame, k: Int): DataFrame =
    corpus.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid"))

  /** Assign every vector to its nearest centroid (max cosine, tiebreak
    * lowest centroid id).
    *
    * argmax as a HASH AGGREGATE, not a row_number window: the window
    * formulation shuffles and sorts all N×nc candidate rows (each
    * dragging the embedding array along); max_by's partial aggregate
    * reduces each partition to one candidate per vector map-side, so the
    * exchange moves N rows. Ordering is window-identical: maximizing
    * `(sim, -centroid_id)` ≡ `sim DESC, centroid_id ASC` (int negation
    * exact; struct comparison field-ordered), and a NaN sim ranks
    * GREATEST exactly as the window's DESC NaN-first did — bit-for-bit
    * the same assignment the DuckDB oracle's row_number replays. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    // the aggregate stays SKINNY — (vec_id, sim, centroid_id) only;
    // dragging the embedding through the agg state measured ~2× slower
    // at nc=224 — and the winner's embedding joins back afterwards
    // (one N-row hash join vs an N×nc-row sort)
    val best = corpus
      .join(broadcast(centroids))
      .select(col("vec_id"),
        cos(col("embedding"), col("centroid")).as("sim"), col("centroid_id"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"),
        struct(col("sim"), negate(col("centroid_id")))).as("centroid_id"))
    corpus.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
  }

  /** One Lloyd update: per-cluster elementwise mean (computed in the
    * flat (cluster, dim, value) shape; reassembled deterministically). */
  def updateCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("centroid_id"), col("dim"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("centroid_id"))
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("cells"))
      .select(col("centroid_id"),
        transform(col("cells"), c => c.getField("m").cast("float")).as("centroid"))

  /** Build the index: fixed-iteration Lloyd's. Returns the (vec_id,
    * embedding, centroid_id) assignments AND the centroids that produced
    * the final assignment — the probe path must route queries with
    * exactly those centroids. Centroid cells are float-quantized
    * (updateCentroids casts the per-dim mean to float), which also pins
    * cross-engine reproducibility: a float has enough headroom over the
    * ~1-ulp double variance of aggregation order. */
  def index(corpus: DataFrame, k: Int, iters: Int = 2): (DataFrame, DataFrame) = {
    // per-iteration lineage cuts (the MLlib-kmeans caching discipline):
    // the lazy chain otherwise re-runs every earlier Lloyd step — and
    // re-scans the corpus — once per downstream consumer of the
    // (assigned, centroids) pair, and once more per iteration inside
    // the chain itself (measured: emb_ivf_topk read the corpus 6x,
    // emb_ivfpq_topk 24x through the PQ composition). Values are
    // identical — the cut freezes the same deterministic evaluation.
    // Contract: BOTH returned frames are already cut (callers must not
    // re-checkpoint). The k-row centroid frame is cut each round so the
    // superseded corpus-sized assignment has no lazy referents and is
    // freed immediately (the Lineage.free discipline)
    var centroids = Lineage.cut(seedCentroids(corpus, k))
    var assigned = Lineage.cut(assign(corpus, centroids))
    for (_ <- 1 until math.max(1, iters)) {
      centroids = Lineage.cut(updateCentroids(assigned))
      val prev = assigned
      assigned = Lineage.cut(assign(corpus, centroids))
      Lineage.free(prev)
    }
    (assigned, centroids)
  }

  def buildIndex(corpus: DataFrame, k: Int, iters: Int = 2): DataFrame =
    index(corpus, k, iters)._1

  /** IVF-bucketed near-dup pairs: candidates share a centroid bucket
    * (the equi-join on centroid_id replaces the all-pairs cross join —
    * the same shape as Dedup.embeddingNearDups with sign buckets swapped
    * for learned centroids, which adapt to the data distribution where
    * axis-aligned sign planes cannot). Top-n by native cosine. */
  def nearDupPairs(corpus: DataFrame, topN: Int, k: Int, iters: Int = 2): DataFrame = {
    val (assigned, _) = index(corpus, k, iters)
    val a = assigned.select(
      col("centroid_id"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = assigned.select(
      col("centroid_id"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, Seq("centroid_id"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cos(col("emb_a"), col("emb_b")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
      .limit(topN)
  }

  /** Probe-time top-k: route each query to its `nprobe` nearest
    * centroids, score only vectors in those buckets. The candidate join
    * is an equi-join on centroid_id — the corpus fraction scanned is
    * ~nprobe/k, the recall/cost knob. */
  /** Query routing: each query's `nprobe` nearest centroids (max
    * cosine, centroid-id tiebreak) — shared by [[topK]] and the IVF-PQ
    * composition (Pq.adcTopKWithin). */
  def route(centroids: DataFrame, queries: DataFrame, nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("centroid_id"))
    queries
      .join(broadcast(centroids))
      .select(col("q_id"), col("q_emb"), col("centroid_id"),
        cos(col("q_emb"), col("centroid")).as("csim"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("centroid_id"))
  }

  def topK(
      index: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 1): DataFrame = {
    val routed = route(centroids, queries, nprobe)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    index
      .join(routed, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cos(col("q_emb"), col("embedding")), 4).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding-space outlier detection — the "far from every cluster"
    * curation filter (OCR garbage, encoding corruption, off-domain
    * content sits in low-density space): cluster the corpus (the IVF
    * index), score each vector's cosine to ITS OWN centroid, and
    * z-score that similarity within the cluster. The most negative z
    * values are the vectors their own neighborhood least explains —
    * the removal candidates. Per-cluster normalization matters: a
    * naturally diffuse topic must not flag its whole membership the
    * way a global threshold would.
    *
    * Plan shape at 100 TB: the Lloyd chain (k·dim driver state), one
    * broadcast join for sims, one k-row stats aggregate broadcast
    * back, map-only z — plus one bounded global top-N sort. Mean and
    * second moment are float-quantized (row-order sums; the Lloyd
    * discipline) so z and the resulting order are engine-stable; the
    * variance guard drops degenerate all-equal clusters before sqrt
    * can see a quantization-negative. */
  def clusterOutliers(corpus: DataFrame, k: Int, iters: Int, topN: Int): DataFrame = {
    val (assigned, cents) = index(corpus, k, iters)
    val sims = assigned.join(broadcast(cents), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        cos(col("embedding"), col("centroid")).as("sim"))
    val stats = sims.groupBy(col("centroid_id")).agg(
      avg(col("sim")).cast("float").cast("double").as("mu"),
      avg(col("sim") * col("sim")).cast("float").cast("double").as("m2"))
    sims.join(broadcast(stats), Seq("centroid_id"))
      .filter(col("m2") - col("mu") * col("mu") > 0)
      .select(col("vec_id"), col("centroid_id"),
        ((col("sim") - col("mu")) / sqrt(col("m2") - col("mu") * col("mu"))).as("z"))
      .orderBy(col("z"), col("vec_id"))
      .limit(topN)
      .select(col("vec_id"), col("centroid_id"), round(col("z"), 4).as("z_score"))
  }

  /** SemDeDup-style semantic dedup decisions: cluster the corpus (the
    * IVF index), take within-cluster pairs with cosine ≥ `threshold`
    * as edges, resolve connected components, keep the min vec_id per
    * component. Candidate generation never leaves the centroid buckets
    * — the SemDeDup premise that semantic duplicates land in the same
    * cluster, which bounds pair cost at Σ bucket² instead of n²; the
    * oracle replays the identical clustering, so recall-vs-bucketing is
    * part of the certified semantics, not hidden approximation.
    * Returns (vec_id, component_id, is_keeper) for the whole corpus
    * (non-duplicated vectors are their own singleton component). */
  def semanticComponents(
      corpus: DataFrame,
      threshold: Double,
      k: Int,
      iters: Int = 2): DataFrame = {
    // the trainer's returned assignment is already materialized and
    // lineage-cut ([[index]]'s contract) — the pair join reads it as
    // BOTH sides off the same frozen blocks, no re-cut
    val assigned = index(corpus, k, iters)._1
    val a = assigned.select(col("centroid_id"), col("vec_id").as("src"), col("embedding").as("ea"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("dst"), col("embedding").as("eb"))
    val edges = a.join(b, Seq("centroid_id"))
      .filter(col("src") < col("dst") &&
        round(cos(col("ea"), col("eb")), 4) >= threshold)
      .select(col("src"), col("dst"))
    corpus.select(col("vec_id"))
      .join(
        Dedup.connectedComponents(edges)
          .withColumnRenamed("node", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component_id"), col("vec_id")).as("component_id"))
      .withColumn("is_keeper", col("vec_id") === col("component_id"))
  }
}
