package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, NamedExpression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.PlanBridge

/** The whole-operator extension rung: a NATIVE as-of join — custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan` — beside the composed
  * window formulation in [[graft.ops.AsOf]] (reference behavior:
  * point-in-time alignment of a click to the latest earlier purchase,
  * the lookup src/order_processor/app.py:88-104 does per message
  * against current state).
  *
  * Why a physical operator when the composed path is already
  * O(|L|+|R|)? The union-window plan materializes |L|+|R| rows wide
  * enough to carry BOTH sides' columns through ONE sort, and the
  * window's `last(ignoreNulls)` runs per carried column per row. The
  * native exec keeps each side its own width, sorts each side
  * independently (smaller sort keys, tighter rows), and the merge sweep
  * is a single forward pass holding ONE buffered right row — the same
  * cost shape as SortMergeJoinExec, with no widened intermediate. At
  * 100 TB the widened union is real shuffle bytes: left(+nulls) and
  * right(+nulls) both shuffle at combined width, roughly doubling
  * shuffle volume vs shuffling each side at its own width.
  *
  * Scale contract: both children hash-cluster on the key and sort
  * within partitions by (key, time) — declared via
  * `requiredChildDistribution`/`requiredChildOrdering`, so
  * EnsureRequirements plans the exchanges and sorts, AQE can coalesce
  * them, and a bucketed table on the key plans with NO exchange at
  * all (the SortMergeJoin privilege, now extended to as-of). A
  * pathologically hot key serializes into one partition's sweep — the
  * bound every per-key ordered scan shares.
  *
  * Null contract: keys and times must be non-null on both sides (null
  * keys would MATCH under sort-order semantics where SQL equality says
  * no-match; the API wrapper documents and the oracle data satisfies
  * it). Right side must be deduped to one row per (key, time) —
  * same determinism contract as [[graft.ops.AsOf.asofJoinBackward]].
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[NamedExpression],
    carried: Seq[Attribute],
    nearest: Boolean = false)
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ carried
  // `carried` springs into existence here (the matched right payload,
  // re-keyed to fresh nullable attributes): without producedAttributes
  // the node would report them as missingInput and fail CheckAnalysis
  override def producedAttributes: AttributeSet = AttributeSet(carried)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]; [[GraftExtensions]]
  * injects it at session build, beside the optimizer rules. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lks, rks, lt, rt, payload, carried, nearest) =>
      AsOfJoinExec(lks, rks, lt, rt, payload, carried,
        planLater(l), planLater(r), nearest) :: Nil
    case _ => Nil
  }
}

/** Per-partition merge sweep: both inputs arrive clustered on the key
  * and sorted by (key, time); for each left row, consume right rows up
  * to the left position, holding the latest admissible (same key,
  * time ≤ left time) right payload. One buffered right row, two copied
  * scratch rows — O(1) state regardless of partition size, no
  * per-key buffering at all. */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[NamedExpression],
    carried: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan,
    nearest: Boolean = false)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ carried
  override def producedAttributes: AttributeSet = AttributeSet(carried)

  // the SortMergeJoin contract: cluster both sides on the key (same
  // number of clustering expressions → EnsureRequirements makes the
  // exchanges co-partitioned), sort within partitions by (key, time)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) ::
      ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  // left rows pass through in order with columns appended — partitioning
  // and ordering survive, so a downstream per-key op reuses both
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending)

  // the standard operator metrics: output cardinality (= left
  // cardinality here, every left row emits exactly once) and how many
  // of them matched — the first thing an operator of the pipeline
  // checks when an enrichment rate drops
  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val numCarried = carried.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val carriedProj = UnsafeProjection.create(payload, right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val nullCarried: InternalRow = new GenericInternalRow(numCarried)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(output, output)
      // single buffered right row + the held (copied) latest admissible
      // payload — the only per-partition state. The head's key/time
      // projections are cached while the head stands (each projection
      // writes a distinct reusable buffer, overwritten only by its own
      // next call — which happens exactly when the head advances), so
      // a stalled head costs one comparison per left row, zero
      // projections.
      var rHead: InternalRow = null
      var rHeadKey: InternalRow = null
      var rHeadTime: InternalRow = null
      def advanceRight(): Unit = {
        if (rIter.hasNext) {
          rHead = rIter.next()
          rHeadKey = rKeyProj(rHead)
          rHeadTime = rTimeProj(rHead)
        } else rHead = null
      }
      advanceRight()
      var held: InternalRow = null
      var heldKey: InternalRow = null
      lIter.map { l =>
        val lk = lKeyProj(l)
        var advancing = rHead != null
        while (advancing) {
          val c = keyOrd.compare(rHeadKey, lk)
          if (c < 0) {
            // right key entirely behind this left key: discard
            advanceRight()
          } else if (c == 0 && timeOrd.compare(rHeadTime, lTimeProj(l)) <= 0) {
            // admissible: later admissible rows overwrite (latest wins)
            held = carriedProj(rHead).copy()
            heldKey = rHeadKey.copy()
            advanceRight()
          } else {
            advancing = false
          }
          if (rHead == null) advancing = false
        }
        val backMatch = heldKey != null && keyOrd.compare(heldKey, lk) == 0
        // NEAREST mode: the stalled head is by construction the FIRST
        // right row strictly after the left time on this key — the
        // forward candidate comes free out of the same sweep. Equal-
        // timestamp rows were consumed into `held` with Δt = 0, which
        // the ≤ tie-break below resolves to backward, exactly the
        // composed asofJoinNearest contract. Time must be integral
        // (the API wrapper enforces LongType) and the carried layout
        // puts the right time LAST — both helper contracts.
        val fwdMatch = nearest && rHead != null &&
          keyOrd.compare(rHeadKey, lk) == 0
        val chosen: InternalRow =
          if (backMatch && fwdMatch) {
            val lt = lTimeProj(l).getLong(0)
            val bt = held.getLong(numCarried - 1)
            val ft = rHeadTime.getLong(0)
            if (lt - bt <= ft - lt) held else carriedProj(rHead)
          } else if (backMatch) held
          else if (fwdMatch) carriedProj(rHead)
          else null
        numOutputRows += 1
        if (chosen != null) numMatchedRows += 1
        resultProj(joined(l, if (chosen != null) chosen else nullCarried))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing constructor for the native path — same signature and
  * semantics as [[graft.ops.AsOf.asofJoinBackward]] (certified
  * bit-identical by the shared DuckDB `ASOF JOIN` oracle). The plan
  * needs [[AsOfJoinStrategy]], so the session must carry
  * [[GraftExtensions]]. */
object AsOfJoinNative {
  def asofJoinBackward(
      leftDf: DataFrame,
      rightDf: DataFrame,
      key: String,
      time: String,
      payloadCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    build(leftDf, rightDf, Seq(key), time, payloadCols, prefix, nearest = false)

  /** COMPOSITE-key backward as-of — e.g. (tenant, user): the cluster
    * distribution, child orderings and merge comparator all widen to
    * the key list; the sweep is unchanged. */
  def asofJoinBackwardKeys(
      leftDf: DataFrame,
      rightDf: DataFrame,
      keys: Seq[String],
      time: String,
      payloadCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    build(leftDf, rightDf, keys, time, payloadCols, prefix, nearest = false)

  /** NEAREST native as-of — same signature and semantics as
    * [[graft.ops.AsOf.asofJoinNearest]] (min |Δt|, ties to the earlier
    * right row). `time` must be LongType on both sides (the sweep
    * subtracts it; pass `unix_micros(ts)`, exactly as the composed
    * formulation requires numerics). */
  def asofJoinNearest(
      leftDf: DataFrame,
      rightDf: DataFrame,
      key: String,
      time: String,
      payloadCols: Seq[String],
      prefix: String = "near_"): DataFrame = {
    require(leftDf.schema(time).dataType ==
      org.apache.spark.sql.types.LongType,
      s"nearest as-of needs a LongType time column, got ${leftDf.schema(time).dataType}")
    build(leftDf, rightDf, Seq(key), time, payloadCols, prefix, nearest = true)
  }

  private def build(
      leftDf: DataFrame,
      rightDf: DataFrame,
      keys: Seq[String],
      time: String,
      payloadCols: Seq[String],
      prefix: String,
      nearest: Boolean): DataFrame = {
    require(keys.nonEmpty, "as-of needs at least one key column")
    val spark = leftDf.sparkSession
    val lPlan = leftDf.queryExecution.analyzed
    // both sides typically derive from the SAME scan (self-as-of on
    // events), so the right child's attributes share exprIds with the
    // left's — re-alias every right column to fresh exprIds, exactly
    // what the analyzer's dedup does for self-joins
    val rPlan = Project(
      rightDf.queryExecution.analyzed.output.map(a => Alias(a, a.name)()),
      rightDf.queryExecution.analyzed)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name).mkString(", ")}"))
    // Project output attrs: resolve against the aliased projection
    val rOut: Seq[Attribute] = rPlan.output
    def rAttr(name: String): Attribute = rOut.find(_.name == name).get
    val lks = keys.map(attr(lPlan, _))
    val lt = attr(lPlan, time)
    require(rAttr(time).dataType == lt.dataType,
      s"time type mismatch: ${lt.dataType} vs ${rAttr(time).dataType}")
    val payload: Seq[NamedExpression] =
      (payloadCols :+ time).map(c => Alias(rAttr(c), s"$prefix$c")())
    val carried: Seq[Attribute] =
      payload.map(p => AttributeReference(p.name, p.dataType, nullable = true)())
    PlanBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan, lks, keys.map(rAttr), lt, rAttr(time), payload,
        carried, nearest))
  }
}
