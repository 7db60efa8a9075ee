package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering: a logistic-regression document
  * classifier trained by full-batch gradient descent, entirely as
  * relational aggregates — the fastText/CCNet-style "quality model"
  * stage of a pre-training pipeline (reference: the rule filters in
  * src/validation/rules.py:12-31 are this model's hard-threshold
  * ancestors), with no ML library and no driver-side matrix.
  *
  * The training setup is rule distillation (weak supervision): labels
  * come from the [[TextOps.qualityScores]] band rule (in-band length ∧
  * plausible word length ∧ stopwords present), features are the SMOOTH
  * distances underlying those bands, and the learned model replaces
  * the hard 0/1 rule with a calibrated probability — the standard way
  * a heuristic bootstrap becomes a rankable quality score.
  *
  * Plan shape at 100 TB: the feature frame is ONE map-only projection
  * of the corpus, lineage-cut once ([[Lineage]]); each GD iteration is ONE
  * aggregate over it (map-side combined, d+0 columns to the driver —
  * the O(dim) driver exception of Pca/Bloom/Bpe); scoring is map-only
  * with the weights riding along as literals. k iterations = k
  * aggregate scans, zero shuffles beyond the aggregate's own exchange,
  * zero driver loops over rows.
  *
  * Cross-engine determinism is the Pca/Lloyd discipline: the sigmoid
  * (whose `exp` may differ by ulps between engines) is quantized to
  * FLOAT per row; each gradient component (a row-order-dependent sum)
  * is quantized to FLOAT; the weight update arithmetic is then exact
  * doubles in a fixed evaluation order, re-quantized per iteration.
  * text_lr_weights / text_lr_scores replay the full chain in SQL to
  * hash equality.
  */
object Classifier {

  /** Number of model weights: bias + 3 quality features. */
  val Dim = 4

  private def toks: Column = split(col("text"), " ")

  /** (doc_id, y, x0..x3): label = the qualityScores band rule; x1/x2 =
    * normalized distance from the length/word-length band centers
    * (linearizing the band: violation grows monotonically with the
    * distance), x3 = stopword ratio. All exact per-row arithmetic. */
  def features(docs: DataFrame): DataFrame = {
    val nt = size(toks).cast("double")
    val mtl = length(replace(col("text"), lit(" "), lit(""))).cast("double") / size(toks)
    val sr = size(filter(toks, w => w.isInCollection(Seq("the", "a", "of", "and", "to", "in", "is"))))
      .cast("double") / size(toks)
    docs.select(
      col("doc_id"),
      when(nt.between(20, 80) && mtl.between(3.0, 9.0) && sr > 0, 1.0).otherwise(0.0).as("y"),
      lit(1.0).as("x0"),
      (abs(nt - 50.0) / 50.0).as("x1"),
      (abs(mtl - 6.0) / 6.0).as("x2"),
      sr.as("x3"))
  }

  /** The learned weight vector after `iters` full-batch GD steps from
    * w = 0. Each cell a float-valued double (the quantization
    * contract). */
  def train(docs: DataFrame, iters: Int = 20, lr: Double = 10.0): Array[Double] = {
    require(iters >= 1, "need at least one iteration")
    val raw = features(docs)
    // lazy cut: the count() is the materializing action (one job, see
    // Lineage.cutLazy); the 20 gradient jobs then read the blocks
    val f = Lineage.cutLazy(raw)
    val n = f.count().toDouble
    val xs = Array("x0", "x1", "x2", "x3")
    var w = Array.fill(Dim)(0.0)
    for (_ <- 1 to iters) {
      // z in fixed left-assoc order; sigmoid quantized per ROW so the
      // engines' exp ulp noise cannot reach the gradient sums
      val z = lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
      val s = (lit(1.0) / (lit(1.0) + exp(-z))).cast("float").cast("double")
      val r = f.withColumn("s", s)
        .agg(
          sum((col("s") - col("y")) * col(xs(0))),
          sum((col("s") - col("y")) * col(xs(1))),
          sum((col("s") - col("y")) * col(xs(2))),
          sum((col("s") - col("y")) * col(xs(3))))
        .head()
      // gradient sums are row-order-dependent → quantize, then update
      // with exact doubles in fixed order, re-quantize the iterate
      val g = Array.tabulate(Dim)(j => r.getDouble(j).toFloat.toDouble)
      w = Array.tabulate(Dim)(j => (w(j) - lr * g(j) / n).toFloat.toDouble)
    }
    Lineage.free(f)
    w
  }

  /** The trained model as a frame: (feature, weight) with weights
    * rounded 4 dp at the output edge. */
  def weightsFrame(docs: DataFrame, iters: Int = 20, lr: Double = 10.0): DataFrame = {
    val w = train(docs, iters, lr)
    val spark = docs.sparkSession
    import spark.implicits._
    w.zipWithIndex.map { case (x, j) =>
      (j, BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.toDF("feature", "weight")
  }

  /** Map-only inference: per-doc quality probability under `w` plus
    * the hard prediction and the rule label it distills. The
    * probability is float-quantized BEFORE the 0.5 threshold so the
    * prediction is engine-stable even at the boundary. */
  def scores(docs: DataFrame, w: Array[Double]): DataFrame = {
    require(w.length == Dim, s"expected $Dim weights")
    val f = features(docs)
    val z = lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    val p = (lit(1.0) / (lit(1.0) + exp(-z))).cast("float").cast("double")
    f.withColumn("p", p)
      .select(
        col("doc_id"),
        col("y").cast("int").as("rule_label"),
        round(col("p"), 4).as("prob"),
        when(col("p") >= 0.5, 1).otherwise(0).as("pred"))
  }

  /** EXACT ROC-AUC of `probCol` against the binary `labelCol` — the
    * evaluation closer of the classifier family (threshold-free,
    * unlike the 0.5-cut `pred`): via the Mann–Whitney identity,
    * AUC = (R⁺ − nP(nP+1)/2) / (nP·nN) with R⁺ the TIE-AVERAGED rank
    * sum of the positives. Tie groups make the rank sum exact without
    * per-row ranks: a group spanning ranks [r0, r1] with np positives
    * contributes np·(r0+r1)/2, so 2R⁺ = Σ np·(r0+r1) stays INTEGER
    * and the single final division is the only float op.
    *
    * Scale shape: one groupBy on the (rounded) score — the score
    * histogram, ≤ 10^4 rows at 4 decimals regardless of corpus
    * size — then a histogram-scale cumulative window (the
    * qualityFilter discipline: deliberate bounded single partition,
    * keyed to dodge the WindowExec WARN) and a 1-row aggregate.
    * Nothing row-scale ever sorts globally. */
  /** Calibration (reliability) bins: decile the score, compare each
    * bin's MEAN predicted probability against its EMPIRICAL positive
    * rate — the diagram that says whether "p = 0.9" means 90%. A
    * well-calibrated model tracks the diagonal; distillation drift
    * shows up here before it moves AUC (AUC is rank-only). Exactness:
    * both ratios are INTEGER sums with one final division each — the
    * 4-decimal score becomes exact ten-thousandths (round(p·10⁴)), so
    * no float accumulates in any aggregation order. Bin floors ride
    * the rounded score: engine-stable membership. One groupBy. */
  def calibrationBins(scored: DataFrame, bins: Int = 10,
                      labelCol: String = "rule_label",
                      probCol: String = "prob"): DataFrame =
    scored
      .select(
        least(floor(col(probCol) * bins), lit(bins - 1)).cast("int").as("bin"),
        round(col(probCol) * 10000).cast("long").as("p4"),
        col(labelCol))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("p4")).cast("double") /
          (count(lit(1)) * 10000).cast("double"), 4).as("mean_prob"),
        round(sum(col(labelCol)).cast("double") /
          count(lit(1)).cast("double"), 4).as("pos_rate"))

  def auc(scored: DataFrame, labelCol: String = "rule_label",
          probCol: String = "prob"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = scored.groupBy(col(probCol))
      .agg(count(lit(1)).as("n"), sum(col(labelCol)).as("np"))
    val w = Window.partitionBy(pmod(hash(col(probCol)), lit(1)))
      .orderBy(col(probCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("c1", sum(col("n")).over(w))
      .agg(
        sum(col("np") * (col("c1") - col("n") + 1 + col("c1"))).as("two_r"),
        sum(col("np")).as("n_pos"),
        (sum(col("n")) - sum(col("np"))).as("n_neg"))
      .select(
        col("n_pos"), col("n_neg"),
        round(
          (col("two_r") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2) * col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"))
  }
}
