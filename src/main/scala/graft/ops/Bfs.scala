package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Breadth-first hop distances over a relational edge list — the graph
  * TRAVERSAL primitive beside the component/centrality family
  * ([[Dedup.connectedComponents]], [[graft.ops.PageRank]], KCore,
  * LabelProp): "everything within k hops of these seeds", the query
  * behind blast-radius analysis (recalled part → co-ordered parts),
  * contamination spread, and graph-expansion features.
  *
  * Spark-first: frontier-relaxation BFS. Each round joins the CURRENT
  * frontier (nodes first reached last round) against the edge list —
  * a posting-list equi-join on the source id, map-side pruned to
  * unvisited nodes by a left_anti against the visited set. A node
  * enters `dist` the FIRST round it is reachable, so its hop is the
  * minimum distance by construction — no per-node min aggregation,
  * no re-relaxation (each node joins the edge list exactly once as
  * frontier). maxHops bounds the loop; the visited set is the only
  * growing state and it is bounded by the vertex set, not the edge
  * set.
  *
  * Scale: per round one shuffle join frontier⋈edges + one anti-join
  * against visited (both on the node id — at 1000 executors both
  * co-partition on the same key, and AQE handles the shrinking
  * frontier). [[Lineage]] discipline cuts each round's plan, as in
  * connectedComponents. The DuckDB oracle replays the traversal as
  * a RECURSIVE CTE with a hop cap and min-hop collapse — an
  * independent BFS formulation certifying layer membership.
  */
object Bfs {

  /** Hop distance (id, hop) for every node within `maxHops` of a seed.
    * `edges` must be DIRECTED (src, dst) — pass both directions for an
    * undirected graph. Seeds get hop 0; unreachable nodes are absent. */
  def hopDistances(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // materialize the edge frame ONCE when more than one hop will scan
    // it — the caller's edge derivation can be arbitrarily expensive (a
    // co-occurrence self-join in rel_part_blast_radius), and without a
    // cut every hop's frontier join re-runs it from the source (the
    // jaccardPairs postings discipline applied to the loop input;
    // measured on rel_part_blast_radius: 50→34 jobs, 546→315 tasks,
    // 88.7→45.8 MB shuffled, input records 703k→235k)
    val e0 = edges.select(col("src"), col("dst"))
    val e = if (maxHops > 1) Lineage.cut(e0) else e0
    var dist = Lineage.cut(
      seeds.select(col("id")).distinct().select(col("id"), lit(0).as("hop")))
    var frontier = dist
    var h = 1
    var live = true
    while (h <= maxHops && live) {
      val next = Lineage.cut(
        frontier.join(e, frontier("id") === e("src"))
          .select(col("dst").as("id")).distinct()
          .join(dist.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), lit(h).as("hop")))
      live = next.limit(1).count() > 0 // O(1) liveness probe per round
      if (live) {
        val prev = dist
        dist = Lineage.cut(dist.unionByName(next))
        Lineage.free(prev)
        Lineage.free(frontier)
        frontier = next
      } else Lineage.free(next)
      h += 1
    }
    // the returned dist is itself cut, so the edge blocks are dead here
    if (maxHops > 1) Lineage.free(e)
    dist
  }

  /** BFS hop distances over the IMPLICIT co-membership graph of a
    * (grp, id) membership table: two ids are adjacent iff they share a
    * grp (and differ). Equivalent to [[hopDistances]] over the
    * materialized pairwise edge list — every newly-reached id has a
    * distinct co-member on the frontier, because the frontier itself
    * is already in the visited set — but never BUILDS that edge list:
    * the pairwise self-join squares each group's member count (the
    * blast-radius caller measured 89.6 MB shuffled and 7.9M records
    * read just materializing it for a 3-hop walk from 10 seeds), while
    * a hop here is two membership equi-joins (id → groups → members),
    * each bounded by the membership table, with the frontier side
    * small enough for AQE to broadcast (guide §8: move decisions
    * through the lightweight proxy, never square the payload).
    *
    * Semantics are [[hopDistances]]'s: seeds get hop 0, a node's hop is
    * the first round it is reachable, unreachable nodes are absent. */
  def hopDistancesVia(
      memberships: DataFrame,
      seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // one materialization: both joins of every hop scan the membership
    // blocks (the caller's derivation — distinct, df-cap semi-join —
    // would otherwise re-run per join per hop)
    val m0 = memberships.select(col("grp"), col("id"))
    val m = if (maxHops >= 1) Lineage.cut(m0) else m0
    var dist = Lineage.cut(
      seeds.select(col("id")).distinct().select(col("id"), lit(0).as("hop")))
    var frontier = dist
    var h = 1
    var live = true
    while (h <= maxHops && live) {
      val grps = frontier.select(col("id"))
        .join(m, Seq("id")).select(col("grp")).distinct()
      val next = Lineage.cut(
        m.join(grps, Seq("grp"))
          .select(col("id")).distinct()
          .join(dist.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), lit(h).as("hop")))
      live = next.limit(1).count() > 0 // O(1) liveness probe per round
      if (live) {
        val prev = dist
        dist = Lineage.cut(dist.unionByName(next))
        Lineage.free(prev)
        Lineage.free(frontier)
        frontier = next
      } else Lineage.free(next)
      h += 1
    }
    if (maxHops >= 1) Lineage.free(m)
    dist
  }
}
