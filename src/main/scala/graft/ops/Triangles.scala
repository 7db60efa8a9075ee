package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting and local clustering coefficients — the graph
  * redundancy metrics of a similarity graph (a document whose
  * neighbors are also neighbors of each other sits in a dense
  * near-duplicate pocket; clustering ≈ 0 marks bridge/outlier
  * content). Completes the relational graph family beside connected
  * components and (personalized) PageRank.
  *
  * The count uses the degree-ordered orientation: every undirected
  * edge points from its lower (degree, id) endpoint to the higher,
  * which makes the orientation acyclic — each triangle then has
  * exactly ONE node holding out-edges to the other two, so one wedge
  * join plus one closure join counts every triangle exactly once, and
  * out-degrees are bounded by O(√m) on any graph. That bound is the
  * scale story: the wedge frame — the only super-linear intermediate —
  * is Σ outdeg² ≤ O(m^1.5) worst-case instead of Σ deg² (which a
  * celebrity node makes quadratic), and every step is an equi-join or
  * keyed aggregate that shuffles on node/edge keys.
  *
  * Everything is integer arithmetic until the final coefficient
  * (2T / d(d−1), one IEEE division, rounded) — cross-engine
  * determinism is structural, no quantization discipline needed.
  */
object Triangles {

  /** Canonical undirected edges (a < b, self-loops and parallel edges
    * dropped) from a directed edge frame (src, dst). */
  def undirect(edges: DataFrame): DataFrame =
    edges
      .filter(col("src") =!= col("dst"))
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Per-node triangle participation and local clustering coefficient
    * over the undirected version of `edges`: (node, degree,
    * n_triangles, clustering), clustering = 2T/(d(d−1)) rounded to
    * 6 dp, 0 for degree < 2. */
  def perNode(edges: DataFrame): DataFrame = {
    val und = Lineage.cut(undirect(edges))
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // orient a—b toward the higher (degree, id): join degrees once,
    // emit the ordered pair
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
    val oriented = Lineage.cut(withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    // wedges at the min-rank corner: two out-neighbors, id-ordered so
    // the closure probe is against the canonical (a < b) edge set
    val wedges = oriented.as("x")
      .join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("w0"),
        least(col("x.v"), col("y.v")).as("p"),
        greatest(col("x.v"), col("y.v")).as("q"))
    val tri = wedges.join(und, wedges("p") === und("a") && wedges("q") === und("b"))
      .select(col("w0"), col("p"), col("q"))
    val corners = tri
      .select(explode(array(col("w0"), col("p"), col("q"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(corners, Seq("node"), "left")
      .select(
        col("node"),
        col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(
          when(col("degree") >= 2,
            lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
              (col("degree") * (col("degree") - 1)))
            .otherwise(lit(0.0)), 6).as("clustering"))
  }

  /** The global triangle count — one scalar frame (n_triangles); each
    * triangle touches exactly three corners, so the per-node sum is
    * 3T. */
  def globalCount(edges: DataFrame): DataFrame =
    perNode(edges)
      .agg((sum(col("n_triangles")) / 3).cast("long").as("n_triangles"))
}
