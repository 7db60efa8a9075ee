package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (LPA,
  * Raghavan et al. 2007): every node starts as its own community and
  * repeatedly adopts the label most frequent among its neighbors —
  * near-duplicate pockets and topical clusters converge onto one
  * label within a few rounds, at linear cost per round. The
  * reachability complement in the graph family: connectedComponents
  * merges through ANY tie, KCore demands cohesion mass, LPA finds
  * majority structure without a density threshold.
  *
  * Determinism (async LPA is run-order-dependent — useless for a
  * certified engine): rounds are SYNCHRONOUS over the symmetrized
  * edge set, ties break to the SMALLEST label, and the round count is
  * fixed by the caller — the same fixed-round discipline as PageRank
  * (trailing no-op rounds ≡ converged). Integer counts only: no
  * float enters a comparison.
  *
  * Per round at 100 TB: one equi-join of edges against the label
  * table on the neighbor key, one (node, label) count with map-side
  * combine, one per-node argmax window — all shuffles on node ids.
  * Plan depth stays O(1) per round via [[Lineage]] cuts. */
object LabelProp {

  /** (node, community) after `rounds` synchronous updates over the
    * symmetrized `edges` (src, dst). */
  def communities(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val nodes = sym.select(col("src").as("node")).distinct()
    var labels = Lineage.cut(nodes.select(col("node"), col("node").as("label")))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("n").desc, col("nbr_label"))
    (1 to rounds).foreach { _ =>
      val adopted = sym
        .join(labels.select(col("node").as("dst"), col("label").as("nbr_label")), Seq("dst"))
        .groupBy(col("src"), col("nbr_label"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("nbr_label").as("label"))
      labels = Lineage.cut(adopted)
    }
    labels.select(col("node"), col("label").as("community"))
  }
}
