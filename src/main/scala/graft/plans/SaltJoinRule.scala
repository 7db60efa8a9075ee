package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.IntegerType

import graft.sources.segment.GraftSegmentTable

/** Catalyst optimizer rule: salt a shuffle equi-join whose fact side is
  * a graft-segment scan with a MANIFEST-DECLARED hot key — the planner
  * face of the skew statistic (r17; [[graft.ops.Skew.saltedJoin]] is
  * the explicit-call form, certified result-invisible by
  * store_join_autosalt).
  *
  * Rewrite (multiplicity-exact — every fact row gets exactly ONE salt,
  * every dim row is replicated once per salt value, so each qualifying
  * (fact, dim) pair meets exactly once, and NULL keys fail the key
  * equality in both forms):
  * {{{
  *   Join(F, D, fk1 = dk1 && ... && fkN = dkN)
  *   ==>
  *   Project(original output,
  *     Join(
  *       Project(F.*, pmod(hash(fk1..fkN, mid()), salts) AS graft_salt_f, F),
  *       Generate(explode(sequence(0, salts-1)), drop seq, D),
  *       fk1 = dk1 && ... && graft_salt_f = graft_salt_d))
  * }}}
  *
  * The fan-out derives at PLAN TIME from the manifest frequency map
  * ([[graft.ops.Skew.saltsFromHistogram]]: hottest key mass over
  * live-rows/shuffle-partitions, clamped to 64) — zero scans, the same
  * arithmetic `CALL graft.system.salts` serves. For a COMPOSITE key
  * the bound is the tightest declared column's: count(k1=a ∧ k2=b) ≤
  * min_i count(ki=vi), so the minimum of the per-column derivations
  * bounds the composite fan-out (a column with a declared-but-not-hot
  * map derives 1 and correctly vetoes the rewrite; an UNDECLARED
  * column contributes no bound). Fires only when ALL of:
  *
  *  - join type is Inner, or a fact-preserving outer join — LeftOuter
  *    with the fact scan on the LEFT, RightOuter with it on the RIGHT
  *    (r18, measured first: SaltBench's left arms win like the inner
  *    ones, because the preserved fact row keeps exactly one salt —
  *    unmatched rows survive exactly once — while dim replication is
  *    invisible on the non-preserved side; replicating a PRESERVED dim
  *    would emit `salts` null-extended copies, so those orientations
  *    never match);
  *  - the condition is a conjunction of column equalities between the
  *    children, none touching the rule's own salt namespace (the
  *    convergence guard: the rewritten join carries `graft_salt_f` /
  *    `graft_salt_d`, so the rule can never re-match its own output —
  *    r17's exactly-one-equality guard, generalized to composite keys
  *    via the marker the r17 verdict suggested), and no join-strategy
  *    hints (a user hint outranks the statistic);
  *  - one side scans an UNPINNED graft-segment table producing ALL of
  *    its keys, with at least one declared map deriving salts > 1
  *    (undeclared / overflowed / not-hot fall back to no rewrite;
  *    pinned or time-traveled scans are skipped because the CURRENT
  *    map may not describe the snapshot);
  *  - the dim side is NOT broadcast-eligible (sizeInBytes above
  *    `autoBroadcastJoinThreshold`): a broadcast join has no fact-side
  *    shuffle, hence NO skew problem — SaltBench measured BHJ 0.8 s vs
  *    best salted 2.5 s at x80, so rewriting a broadcastable join
  *    would be strictly worse;
  *  - replicating the dim `salts` times costs less than the fact scan
  *    it parallelizes (dim bytes x salts <= fact bytes, plan stats).
  *
  * Why a static rewrite when AQE splits skewed sort-merge joins at
  * runtime? Measured head-to-head (SaltBench, 75%-hot fact, 32-way
  * local): AQE's split works at MAP-OUTPUT granularity, so it cannot
  * split at all when the hot partition's bytes come from few mappers
  * (a 1-file table: "0 skewed partitions" with a 97 MB hot partition —
  * salted x2.5 faster at x40); with 32 mappers and a tuned advisory
  * size AQE reached 4.3 s at x80 where salted+AQE reached 2.5 s —
  * salting balances the shuffle at WRITE time (every map task's output
  * spreads over `salts` reducers), the read-side split cannot. The two
  * compose: the salted join's residual imbalance still gets AQE's
  * treatment. Skewed AGGREGATIONS have no AQE analogue; that face is
  * [[graft.ops.Skew.saltedAgg]]/[[graft.ops.Skew.saltedCountDistinct]]
  * (explicit, because an agg rewrite cannot be hidden behind identical
  * results for non-decomposable functions).
  *
  * Disable with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.SaltJoinRule`. Plan-time cost:
  * the broadcast-eligibility precheck is stats-only; the manifest
  * lookup rides the table instance's cached read (one log read per
  * query resolution, however many fixed-point iterations re-match a
  * non-firing candidate) and is Try-guarded — an FS hiccup must never
  * fail planning of a query that didn't need the rewrite. At 100 TB
  * the O(KB) read replaces a GROUP-BY sizing pass.
  */
case class SaltJoinRule() extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case j @ Join(left, right, jt, Some(cond), hint)
          if (jt == Inner || jt == LeftOuter || jt == RightOuter) &&
            hint.leftHint.isEmpty && hint.rightHint.isEmpty &&
            !SaltJoinRule.touchesSaltNamespace(cond) =>
        keyPairs(left, right, cond).flatMap { pairs =>
          val (lks, rks) = pairs.unzip
          jt match {
            case Inner =>
              oriented(left, lks, right, rks)
                .orElse(oriented(right, rks, left, lks))
            // only the PRESERVED side may be the salted fact
            case LeftOuter  => oriented(left, lks, right, rks)
            case RightOuter => oriented(right, rks, left, lks)
            case _ => None
          }
        } match {
          case Some((fact, fks, dim, dks, salts)) =>
            rewrite(j, fact, fks, dim, dks, salts)
          case _ => j
        }
    }

  /** The (leftKey, rightKey) pairs when the condition is a PURE
    * conjunction of column equalities between the children; None on
    * any other conjunct (a residual predicate changes which rows
    * match, and this rule's multiplicity argument only covers the
    * equi-join shape). */
  private def keyPairs(left: LogicalPlan, right: LogicalPlan,
      cond: Expression): Option[Seq[(AttributeReference, AttributeReference)]] = {
    val pairs = splitConjunctivePredicates(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (left.outputSet.contains(a) && right.outputSet.contains(b)) Some((a, b))
        else if (left.outputSet.contains(b) && right.outputSet.contains(a)) Some((b, a))
        else None
      case _ => None
    }
    if (pairs.nonEmpty && pairs.forall(_.isDefined)) Some(pairs.flatten)
    else None
  }

  /** Fire conditions for one orientation, cheapest first. The
    * STRUCTURAL check (is the fact side an eligible graft-segment
    * scan?) runs before ANY stats call: a pre-pushdown DSv2
    * relation's `computeStats` builds a throwaway ScanBuilder — and
    * throws outright under `spark.testing` — so a join with no graft
    * table in it must never touch plan stats. The stats that do run
    * are Try-guarded for the same reason. */
  private def oriented(fact: LogicalPlan, fks: Seq[AttributeReference],
      dim: LogicalPlan, dks: Seq[AttributeReference])
      : Option[(LogicalPlan, Seq[AttributeReference], LogicalPlan, Seq[AttributeReference], Int)] =
    segmentTable(fact, fks).flatMap { t =>
      scala.util.Try((dim.stats.sizeInBytes, fact.stats.sizeInBytes))
        .toOption.flatMap { case (dimSize, factSize) =>
          // broadcast beats any salting (no fact shuffle at all,
          // SaltBench measured dominant)
          val thresh = conf.autoBroadcastJoinThreshold
          if (thresh >= 0 && dimSize <= BigInt(thresh)) None
          else {
            // the tightest DECLARED column bounds the composite key's
            // hot mass; no declared column, no statistic, no rewrite —
            // and a declared-not-hot column (derives 1) vetoes
            derivedSalts(t, fks).filter(_ > 1)
              // the replicated dim must stay cheaper than the fact
              // scan it parallelizes
              .filter(s => dimSize * s <= factSize)
              .map(s => (fact, fks, dim, dks, s))
          }
        }
    }

  /** The unpinned, non-time-traveled graft-segment table `side` scans
    * to produce ALL of `keys`, if any — pure plan-structure
    * inspection, no stats, no I/O. Option-based time travel
    * (versionAsOf / timestampAsOf / sinceVersion) is skipped for the
    * same reason as a catalog pin: the CURRENT manifest's masses may
    * not describe the snapshot being scanned. */
  private def segmentTable(side: LogicalPlan,
      keys: Seq[AttributeReference]): Option[GraftSegmentTable] =
    descendToScan(side).collect {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftSegmentTable] &&
            keys.forall(r.outputSet.contains) && !timeTraveled(r.options) =>
        r.table.asInstanceOf[GraftSegmentTable]
      // a rule run after V2 scan pushdown sees the relation as a
      // ScanRelation
      case r: DataSourceV2ScanRelation
          if r.relation.table.isInstanceOf[GraftSegmentTable] &&
            keys.forall(r.outputSet.contains) && !timeTraveled(r.relation.options) =>
        r.relation.table.asInstanceOf[GraftSegmentTable]
    }.filter(_.pinned.isEmpty)

  /** Walk from the join input toward the scan through ONLY the nodes
    * under which the manifest statistic remains an upper bound on the
    * join input's per-key mass: Project and Filter keep or shrink each
    * key's row count (over-salting at worst — the composite-bound
    * doctrine), while an Aggregate/Distinct/Window/Join/Generate in
    * between changes multiplicity in ways the scan statistic no
    * longer describes (e.g. post-aggregate every key appears ONCE —
    * zero skew — yet the raw scan's hot-key mass would size a
    * pointless ×salts dim replication). Anything unrecognized bails. */
  @annotation.tailrec
  private def descendToScan(p: LogicalPlan): Option[LogicalPlan] = p match {
    case f: Filter => descendToScan(f.child)
    case pr: Project => descendToScan(pr.child)
    case a: SubqueryAlias => descendToScan(a.child)
    case r: DataSourceV2Relation => Some(r)
    case r: DataSourceV2ScanRelation => Some(r)
    case _ => None
  }

  private def timeTraveled(
      o: org.apache.spark.sql.util.CaseInsensitiveStringMap): Boolean =
    o.containsKey("versionAsOf") || o.containsKey("timestampAsOf") ||
      o.containsKey("sinceVersion")

  /** The derived fan-out off the table's manifest maps for the
    * (possibly composite) `keys`: the minimum over DECLARED columns of
    * the per-column derivation ([[graft.ops.Skew.compositeSaltBounds]]
    * — the ONE resolution the `CALL graft.system.salts` face shares,
    * so planner and face can never drift); a value of 1 means
    * declared-but-not-hot (a veto the caller applies), None means no
    * column is declared at all. Reads the TABLE INSTANCE's cached
    * manifest (one log read per query resolution), Try-guarded: a
    * statistic that can't be read is a statistic that's absent, never
    * a planning failure. */
  private def derivedSalts(t: GraftSegmentTable,
      keys: Seq[AttributeReference]): Option[Int] =
    scala.util.Try(t.liveManifest).toOption.flatten.flatMap { m =>
      val live = m.segments.map(_.liveRows).sum
      val target = math.max(1L, live / math.max(1, conf.numShufflePartitions))
      val bounds = graft.ops.Skew.compositeSaltBounds(m, keys.map(_.name), target)
      if (bounds.isEmpty) None else Some(bounds.min)
    }

  private def rewrite(j: Join, fact: LogicalPlan, fks: Seq[AttributeReference],
      dim: LogicalPlan, dks: Seq[AttributeReference], salts: Int): LogicalPlan = {
    // the fact row's salt: hash of its own key tuple + partition-
    // stable id — uniform enough to split the hot key, invisible to
    // the result (exactly ops.Skew.saltedJoin's expression, as
    // resolved nodes)
    val fSalt = Alias(
      Pmod(new Murmur3Hash(fks :+ MonotonicallyIncreasingID()), Literal(salts)),
      "graft_salt_f")()
    val saltedFact = Project(fact.output :+ fSalt, fact)
    // Sequence is TimeZoneAwareExpression: without an explicit
    // timeZoneId it reports unresolved post-analysis (FuzzyJoinRule
    // precedent); unrequiredChildIndex drops the array right at the
    // Generate — nothing downstream needs it
    val seq = Alias(
      new Sequence(Literal(0), Literal(salts - 1))
        .withTimeZone(conf.sessionLocalTimeZone),
      "graft_salts")()
    val dSalt = AttributeReference("graft_salt_d", IntegerType, nullable = false)()
    val repDim = Generate(
      Explode(seq.toAttribute), unrequiredChildIndex = Seq(dim.output.size),
      outer = false, qualifier = None, generatorOutput = Seq(dSalt),
      child = Project(dim.output :+ seq, dim))
    val keyEqs = fks.zip(dks).map { case (fk, dk) => EqualTo(fk, dk) }
    val condition = (keyEqs :+ EqualTo(fSalt.toAttribute, dSalt))
      .reduce[Expression](And(_, _))
    // the fact must stay on the PRESERVED side of an outer join; Inner
    // is symmetric, so fact-left is fine for either orientation
    val salted = j.joinType match {
      case RightOuter =>
        Join(repDim, saltedFact, RightOuter, Some(condition), j.hint)
      case jt => Join(saltedFact, repDim, jt, Some(condition), j.hint)
    }
    Project(j.output, salted)
  }
}

object SaltJoinRule {
  /** The rewrite's own attribute namespace — the convergence marker:
    * any condition already referencing it is this rule's output (or a
    * user column squatting on the documented namespace, which the
    * rule then conservatively leaves alone). */
  private[plans] def touchesSaltNamespace(cond: Expression): Boolean =
    cond.references.exists(a =>
      a.name == "graft_salt_f" || a.name == "graft_salt_d")
}
