package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted k-core decomposition (the s-core of Eidsaa & Almaas) by
  * iterative peeling — dense-pocket extraction over the similarity
  * graph: repeatedly drop every node whose total incident edge weight
  * is below τ until nothing changes. What survives is the maximal
  * subgraph in which EVERY member keeps ≥ τ of similarity mass from
  * other members — on a near-duplicate graph, exactly the tight
  * duplicate pockets (many ~1.0-weight mutual edges), while
  * background nodes whose neighbors are merely "closest available"
  * (~0.3-weight) peel away in cascades. The unweighted k-core is the
  * w ≡ 1 special case. Complements [[Triangles]] (a local density
  * SCORE) with a global fixpoint SET, and [[Dedup.connectedComponents]]
  * (reachability — one weak tie merges two pockets) with a cohesion
  * criterion that one weak tie cannot satisfy.
  *
  * Plan shape at 100 TB: each round is one endpoint-union aggregate
  * (map-side combined) + two semi-joins of the edge frame against the
  * (shrinking) keeper set, Lineage-cut per round; the fixpoint probe
  * is an O(1) driver count
  * per round (the [[Dedup.connectedComponents]] discipline). Rounds
  * are bounded by the peel depth, not the node count — cascades
  * shorten, never lengthen, the loop.
  *
  * Cross-engine determinism: edge weights (cosines) are dim-ordered
  * fold-exact; each node's weighted degree — a row-order-dependent
  * sum — is float-quantized BEFORE the τ comparison (the Pca/Lloyd
  * discipline), so membership decisions are bit-stable. The oracle
  * replays a fixed number of rounds ≥ the fixpoint depth; peeling is
  * monotone, so trailing rounds are no-ops and the fixed-round replay
  * equals the fixpoint.
  */
object KCore {

  /** Undirected kNN similarity edges `(a, b, w)` with w = raw cosine,
    * directions merged by max (symmetric weight, so max = the value).
    * Certification edges are the quadratic brute-force kNN (through
    * the BoundedTopK partial aggregate — the exchange moves #nodes × k
    * rows); the production edge source swaps in the LSH/IVF candidate
    * generators, as with [[PageRank.knnEdges]]. */
  /** The AT-SCALE kNN-graph builder: IVF-bucketed — cluster the corpus
    * (Lloyd, [[Ivf.index]]) and run the per-query top-k only WITHIN
    * each cluster, exactly [[Ivf.semanticComponents]]'s cluster-local-
    * pairs discipline. Candidate pairs shrink from n² to Σ|cluster|²,
    * and nothing is broadcast — the join key is the centroid id.
    * Approximation is the standard IVF trade: neighbors across a
    * cluster boundary are missed; grow `kClusters` with n to bound
    * cluster size (the ×10 probe: brute force 206 s → bucketed ~7 s at
    * 24k vectors). [[knnSimEdges]] stays as the exact reference for
    * corpora small enough to pay n². */
  def knnSimEdgesBucketed(corpus: DataFrame, k: Int,
      kClusters: Int, iters: Int = 2): DataFrame = {
    // Ivf.index's returns are already lineage-cut (its contract) — no
    // re-checkpoint here, which would materialize a second block copy
    val assigned = Ivf.index(corpus, kClusters, iters)._1
    val cand = assigned.select(col("centroid_id"), col("vec_id"), col("embedding"))
    val queries = assigned.select(col("centroid_id"),
      col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    cand.join(queries, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        struct(
          negate(graft.functions.VectorExpressions.cosineNative(col("q_emb"), col("embedding"))).as("ns"),
          col("vec_id").as("v")).as("cand"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopK.topKSmallest(col("cand"), k).as("tk"))
      .select(col("q_id").as("src"), explode(col("tk")).as("e"))
      .select(least(col("src"), col("e.v")).as("a"),
        greatest(col("src"), col("e.v")).as("b"),
        negate(col("e.ns")).as("w"))
      .groupBy(col("a"), col("b"))
      .agg(max(col("w")).as("w"))
  }

  def knnSimEdges(corpus: DataFrame, k: Int): DataFrame = {
    val queries = corpus.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    corpus.join(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        struct(
          negate(graft.functions.VectorExpressions.cosineNative(col("q_emb"), col("embedding"))).as("ns"),
          col("vec_id").as("v")).as("cand"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopK.topKSmallest(col("cand"), k).as("tk"))
      .select(col("q_id").as("src"), explode(col("tk")).as("e"))
      .select(least(col("src"), col("e.v")).as("a"),
        greatest(col("src"), col("e.v")).as("b"),
        negate(col("e.ns")).as("w"))
      .groupBy(col("a"), col("b"))
      .agg(max(col("w")).as("w"))
  }

  /** Peel to the τ-core fixpoint; returns surviving nodes with their
    * final (float-quantized) in-core weighted degree. */
  def weightedCore(edges: DataFrame, tau: Double, maxRounds: Int = 100): DataFrame = {
    def wdegrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node"), col("w"))
        .unionAll(e.select(col("b").as("node"), col("w")))
        .groupBy(col("node"))
        .agg(sum(col("w")).cast("float").cast("double").as("wd"))
    // lazy cuts: the count() that follows is the materializing action,
    // one job per round instead of cut+count's two (see Lineage.cutLazy)
    var cur = Lineage.cutLazy(edges.select(col("a"), col("b"), col("w")))
    var n = cur.count()
    var prev = -1L
    var rounds = 0
    while (n != prev && rounds < maxRounds) {
      prev = n
      val keep = wdegrees(cur).filter(col("wd") >= tau).select(col("node"))
      val nxt = cur
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
      val cut = Lineage.cutLazy(nxt)
      n = cut.count()
      Lineage.free(cur)
      cur = cut
      rounds += 1
    }
    val out = wdegrees(cur)
    out
  }
}
