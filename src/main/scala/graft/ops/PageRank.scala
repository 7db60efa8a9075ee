package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge frame — the graph-importance score a
  * web-scale curation pipeline ranks documents with (link-graph
  * centrality is a standard quality prior for crawl corpora; over a
  * k-NN similarity graph it scores REPRESENTATIVENESS — central
  * documents anchor clusters, rank-starved ones are outliers).
  *
  * Everything is relational: the graph is an edge DataFrame, ranks
  * are a node DataFrame, and one iteration is one equi-join on `src`
  * plus one `groupBy(dst)` aggregate — both shuffle on graph keys, so
  * at 100 TB the work distributes exactly like every other keyed agg
  * in this engine (partial map-side combine, AQE skew handling for
  * celebrity nodes). The driver holds ONE scalar (the node count);
  * ranks never leave the cluster.
  *
  * Semantics: the damped random surfer WITHOUT dangling-mass
  * redistribution — nodes with out-degree 0 leak their damped mass,
  * the same contract GraphX's `staticPageRank` ships (redistributing
  * requires an extra global sum per iteration; callers that need it
  * can append sink self-loops to the edge frame). A k-NN graph has
  * uniform out-degree k, so no mass leaks in the certified query.
  *
  * Cross-engine determinism is the Pca/Lloyd discipline: each
  * iterate's per-node rank is quantized to FLOAT after the update —
  * the in-neighbor contribution sum is row-order-dependent at double
  * precision (~n·ulp), far below float resolution — so a SQL replay
  * of the chain (emb_pagerank's oracle) reproduces every iterate
  * bit-exactly. Fixed iteration count, not convergence-tested:
  * iterations are the caller's budget knob, and a data-dependent stop
  * would make the plan depth data-dependent.
  *
  * Iterative-loop hygiene matches connectedComponents: every round
  * [[Lineage.cut]]s the new ranks frame and [[Lineage.free]]s the
  * previous round's blocks.
  */
object PageRank {

  /** Ranks after `iters` damped iterations over `edges` (columns
    * `src`, `dst`; parallel edges count once per occurrence). Returns
    * (node, rank) for every node appearing as a src or dst, each
    * iterate float-quantized per the determinism contract. */
  def ranks(
      edges: DataFrame,
      damping: Double = 0.85,
      iters: Int = 5): DataFrame = {
    require(damping > 0.0 && damping < 1.0, "damping must be in (0,1)")
    require(iters >= 1, "need at least one iteration")
    val (edgesDeg, nodes) = prepareGraph(edges)
    // the ONE driver scalar: |V|, a bounded O(1) aggregate (the
    // documented exception class — same as Bloom's m/64 words)
    val n = nodes.count()
    val seed = (1.0 / n).toFloat.toDouble
    val base = (1.0 - damping) / n
    loop(nodes, edgesDeg,
      r0 = nodes.select(col("node"), lit(seed).as("rank")),
      baseExpr = lit(base),
      contribAgg = sum(col("rank") / col("outdeg")),
      damping = damping, iters = iters)
  }

  /** Similarity-WEIGHTED PageRank: the surfer follows out-edges in
    * proportion to their weight (`edges` carries a positive `w`
    * column) instead of uniformly — on a kNN graph this makes strong
    * near-duplicate ties transfer more importance than marginal
    * neighbors. Per-node out-weight sums are float-quantized (they
    * are row-order-dependent aggregates; the per-edge `rank·w/wsum`
    * terms are then bit-identical cross-engine), everything else
    * follows [[ranks]]'s contract. Nodes whose out-weights sum to 0
    * would divide to NaN — keep weights strictly positive (the
    * `(1+cosine)/2` mapping of [[knnEdgesWeighted]] is). */
  def weightedRanks(
      edges: DataFrame,
      damping: Double = 0.85,
      iters: Int = 5): DataFrame = {
    require(damping > 0.0 && damping < 1.0, "damping must be in (0,1)")
    require(iters >= 1, "need at least one iteration")
    val e0 = Lineage.cut(edges)
    val wsum = e0.groupBy(col("src"))
      .agg(sum(col("w")).cast("float").cast("double").as("wsum"))
    val edgesW = Lineage.cut(e0.join(wsum, "src"))
    val nodes = Lineage.cut(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    Lineage.free(e0)
    val n = nodes.count()
    val seed = (1.0 / n).toFloat.toDouble
    val base = (1.0 - damping) / n
    loop(nodes, edgesW,
      r0 = nodes.select(col("node"), lit(seed).as("rank")),
      baseExpr = lit(base),
      contribAgg = sum(col("rank") * col("w") / col("wsum")),
      damping = damping, iters = iters)
  }

  /** Personalized PageRank: the damped walk restarts ONLY to `seeds`
    * (a frame with a `node` column) — the "expand from a trusted set"
    * selection primitive: rank mass measures proximity to the seeds
    * through the graph, so high-PPR non-seeds are the natural
    * candidates to promote into a curated corpus (and rank-starved
    * nodes are unreachable from it). Same iteration shape, state, and
    * float-quantization contract as [[ranks]]; seeds not present in
    * the graph still receive restart mass (they are added as isolated
    * nodes), rank mass leaks from dangling nodes identically. */
  def personalizedRanks(
      edges: DataFrame,
      seeds: DataFrame,
      damping: Double = 0.85,
      iters: Int = 5): DataFrame = {
    require(damping > 0.0 && damping < 1.0, "damping must be in (0,1)")
    require(iters >= 1, "need at least one iteration")
    val (edgesDeg, graphNodes) = prepareGraph(edges)
    val seedSet = seeds.select(col("node")).distinct()
    // seed membership rides WITH the node frame so the teleport term
    // stays a per-row expression, never a second join in the loop
    val nodes = Lineage.cut(
      graphNodes.union(seedSet).distinct()
        .join(seedSet.withColumn("is_seed", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed")))
    val nSeeds = nodes.filter(col("is_seed")).count()
    require(nSeeds > 0, "need at least one seed node")
    val seedRank = (1.0 / nSeeds).toFloat.toDouble
    val base = (1.0 - damping) / nSeeds
    loop(nodes, edgesDeg,
      r0 = nodes.select(col("node"),
        when(col("is_seed"), lit(seedRank)).otherwise(lit(0.0)).as("rank")),
      baseExpr = when(col("is_seed"), lit(base)).otherwise(lit(0.0)),
      contribAgg = sum(col("rank") / col("outdeg")),
      damping = damping, iters = iters)
  }

  /** Materialize the edge frame ONCE (degree agg, degree join, and
    * node union all consume it, and an expensive edge source — the
    * quadratic kNN build, an ANN candidate join — must not replay per
    * consumer; measured 12 s → 4 s warm on emb_pagerank), then derive
    * the degree-annotated edges and the node set. */
  private def prepareGraph(edges: DataFrame): (DataFrame, DataFrame) = {
    val e0 = Lineage.cut(edges)
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = Lineage.cut(e0.join(outdeg, "src"))
    val nodes = Lineage.cut(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    Lineage.free(e0)
    (edgesDeg, nodes)
  }

  /** The damped iteration loop: `baseExpr` is the per-node PRE-damped
    * restart mass as an expression over `nodes`' columns (a scalar
    * literal for uniform PageRank, a seed-gated conditional for PPR)
    * and `contribAgg` the per-destination mass aggregate (uniform
    * `rank/outdeg`, weighted `rank·w/wsum`), so each variant's
    * arithmetic mirrors its SQL oracle exactly. */
  private def loop(
      nodes: DataFrame, edgesDeg: DataFrame, r0: DataFrame,
      baseExpr: org.apache.spark.sql.Column,
      contribAgg: org.apache.spark.sql.Column, damping: Double, iters: Int): DataFrame = {
    var ranks = Lineage.cut(r0)
    for (_ <- 1 to iters) {
      val contribs = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(contribAgg.as("contrib"))
      val next = nodes
        .join(contribs, nodes("node") === contribs("dst"), "left")
        .select(
          nodes("node"),
          (baseExpr + lit(damping) * coalesce(col("contrib"), lit(0.0)))
            .cast("float").cast("double").as("rank"))
      val prev = ranks
      ranks = Lineage.cut(next)
      Lineage.free(prev)
    }
    ranks.select(col("node"), col("rank"))
  }

  /** k-NN similarity-graph edges for [[ranks]]: each vector's top-k
    * cosine neighbors, via the fused codegen scorer. Quadratic
    * all-pairs by construction — the CERTIFICATION edge source. At
    * scale swap in [[Similarity.lshTopK]]/[[Ivf]] candidates: ranks()
    * only sees (src, dst) and the ANN families are this engine's
    * sub-quadratic neighbor generators.
    *
    * Neighbor selection ranks the UNROUNDED cosine double: both
    * engines compute it as dim-ordered sequential folds, so the raw
    * values are bit-identical (the Pca/ivfSql bit-exactness contract)
    * and rank ties resolve identically via the vec_id tiebreak —
    * while the all-pairs frame skips the per-pair BigDecimal rounding
    * that human-facing `sim` outputs pay (measured 28% of the edge
    * build at 4M pairs).
    *
    * Selection runs through [[graft.functions.BoundedTopK]], not a
    * row_number window: the k-bounded PARTIAL aggregate keeps ≤k
    * candidates per query map-side, so the exchange moves #queries × k
    * rows instead of the full all-pairs frame (4M → 10k at sf0.1,
    * measured 4.4 s → 3.0 s; at 100 TB the window formulation's
    * full-frame shuffle is the difference between feasible and not).
    * `(-sim, vec_id)` ascending ≡ `(sim DESC, vec_id)` — IEEE negation
    * is exact and order-reversing. */
  def knnEdges(corpus: DataFrame, k: Int): DataFrame =
    knnEdgesWeighted(corpus, k).select(col("src"), col("dst"))

  /** IVF-BUCKETED kNN edges — the 100 TB path beside the exact
    * all-pairs build below. The corpus is Lloyd-clustered into `nc`
    * buckets ([[graft.ops.Ivf.index]] — deterministic seed, float-
    * quantized centroids), each vector probes its `nprobe` nearest
    * centroids, and candidates come from a per-bucket EQUI-JOIN
    * (probed bucket × assigned bucket) — never a cross join. Cost is
    * ~nprobe·N²/nc pair evaluations: with nc ∝ √N that is O(N^1.5),
    * versus the exact build's O(N²) (measured at ×100 in
    * docs/BENCH_NOTES.md round 13 — the exact build is a
    * CERTIFICATION artifact for the graph-query oracles at test SF,
    * not the production path). Recall loss is the usual IVF boundary
    * effect; the spec pins recall vs the exact frame on the test
    * corpus, and nprobe is the recall/cost knob. Same (src, dst, w)
    * contract as [[knnEdgesWeighted]], selection through the same
    * k-bounded partial aggregate. */
  def knnEdgesBucketed(corpus: DataFrame, k: Int, nc: Int,
      iters: Int = 2, nprobe: Int = 2): DataFrame = {
    // the TRAINED centroids come back already lineage-cut (Ivf.index's
    // contract — nc frozen rows); derive the assignment once from the
    // frozen frame: re-deriving through the lazy Lloyd chain per
    // consumer would re-run the build's dominant term for free
    val centroids = graft.ops.Ivf.index(corpus, nc, iters)._2
    val assigned = graft.ops.Ivf.assign(corpus, centroids)
    val probes = graft.ops.Ivf.route(centroids,
      corpus.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), nprobe)
    probes.join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        struct(
          negate(graft.functions.VectorExpressions.cosineNative(col("q_emb"), col("embedding"))).as("ns"),
          col("vec_id").as("v")).as("cand"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopK.topKSmallest(col("cand"), k).as("tk"))
      .select(col("q_id").as("src"), explode(col("tk")).as("e"))
      .select(col("src"), col("e.v").as("dst"),
        ((lit(1.0) + negate(col("e.ns"))) / lit(2.0)).as("w"))
  }

  /** [[knnEdges]] keeping a strictly positive edge weight for
    * [[weightedRanks]]: `w = (1 + cosine)/2` ∈ (0, 1] maps the raw
    * (bit-identical) similarity into random-walk-safe mass — cosine
    * −1 would be weight 0, anything else positive. */
  def knnEdgesWeighted(corpus: DataFrame, k: Int): DataFrame = {
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
      .select(col("src"), col("e.v").as("dst"),
        ((lit(1.0) + negate(col("e.ns"))) / lit(2.0)).as("w"))
  }
}
