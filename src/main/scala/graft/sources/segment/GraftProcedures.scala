package graft.sources.segment

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL stored procedures for graft-segment maintenance — the DSv2
  * `ProcedureCatalog` face (Spark 4's CALL statement), so an operator
  * never leaves SQL for the table lifecycle:
  *
  * {{{
  * CALL graft.system.compact('db.t', 'k');       -- count derived from the
  *                                               -- manifest (+ optional
  *                                               -- num_partitions, mode,
  *                                               -- target_mb)
  * CALL graft.system.zorder('db.t', 'x,y');      -- same derivation
  * CALL graft.system.expire('db.t', 3);
  * CALL graft.system.vacuum('db.t');                      -- + retention_ms
  * CALL graft.system.history('db.t');
  * CALL graft.system.delete_where('db.t', 'k % 7 = 0');   -- rewrite-path DELETE
  * CALL graft.system.delete_mark('db.t', 'k % 7 = 0');    -- deletion-vector DELETE
  * CALL graft.system.compact_deletes('db.t');             -- materialize the vectors
  * CALL graft.system.update_mark('db.t', 'k = 7', 'v', 'v + 1'); -- merge-on-read UPDATE
  * CALL graft.system.rollback('db.t', 3);                 -- RESTORE to version 3
  * CALL graft.system.rollback_to_timestamp('db.t', 1755216000000); -- undo since t
  * CALL graft.system.ndv('db.t');                         -- manifest NDV estimates
  * CALL graft.system.stats('db.t');                       -- full manifest column stats
  * CALL graft.system.histogram('db.t');                   -- manifest value frequencies
  * CALL graft.system.quantiles('db.t', '0.5,0.95');       -- metadata-only quantiles
  * CALL graft.system.salts('db.t', 'k', 100000);  -- derived salted-join fan-out
  * CALL graft.system.join_estimate('db.a','k','db.b','k'); -- zero-scan join count
  * CALL graft.system.mixture_rates('db.t','source',0.5);   -- temperature keep-rates
  * }}}
  *
  * Each is a thin SQL binding over the [[GraftMaintenance]] /
  * [[SegmentLog]] primitive it names; results come back as one
  * driver-computed row set (a `LocalScan` — these are manifest-sized
  * answers, the data work happens in the underlying rewrite job).
  * The table argument is a `db.t` identifier under this catalog's
  * warehouse, or an absolute path.
  */
object GraftProcedures {

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def paramDefault(name: String, dt: DataType, dflt: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(dflt).build()

  private class ResultScan(resultSchema: StructType, out: Seq[InternalRow])
      extends LocalScan {
    override def readSchema(): StructType = resultSchema
    override def rows(): Array[InternalRow] = out.toArray
    override def description(): String = "graft procedure result"
  }

  /** One procedure: fixed parameters, a result schema, and a
    * driver-side body from the (already-validated) argument row. */
  private def procedure(procName: String, params: Seq[ProcedureParameter],
      resultSchema: StructType)(
      body: (SparkSession, InternalRow) => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false // mutates table state
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = SparkSession.active
          java.util.List.of[Scan](
            new ResultScan(resultSchema, body(spark, input))).iterator()
        }
      }
    }

  private def row(vs: Any*): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs.toArray)

  /** Resolve `db.t` (or an absolute path) and load its live manifest's
    * LOGICAL view — the shared entry of every statistics procedure. */
  private def loadManifest(spark: SparkSession, warehouse: String,
      arg: String): Manifest = {
    val dir = tableDir(warehouse, arg)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    SegmentLog.logicalView(SegmentLog.readExisting(fs, dir))
  }

  /** The comma-list argument convention shared by zorder / quantiles /
    * salts (and by histFor itself): comma is RESERVED as the list
    * separator, so a literal column name containing a comma is not
    * addressable through these faces — it is also undeclarable in
    * histFor for the same reason, so no statistic can exist for it
    * and the split can never silently serve one. Blank entries are
    * dropped; an all-blank argument yields empty for the caller's
    * own validation (the quantiles doctrine: reject the REQUEST
    * before touching table state). */
  private def csvArg(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Resolve `db.t` under the warehouse, or pass an absolute path. */
  private def tableDir(warehouse: String, arg: String): String =
    if (arg.startsWith("/") || arg.contains("://")) arg
    else s"$warehouse/${arg.split('.').mkString("/")}"

  private val beforeAfter = StructType(Seq(
    StructField("segments_before", IntegerType, nullable = false),
    StructField("segments_after", IntegerType, nullable = false)))

  def load(warehouse: String, ident: Identifier): UnboundProcedure = {
    require(ident.namespace().toSeq == Seq("system"),
      s"procedures live under the system namespace, got ${ident.namespace().mkString(".")}")
    ident.name() match {
      case "compact" =>
        // num_partitions <= 0 derives the output count from the
        // manifest (Σ live bytes / target_mb per segment) — zero
        // scans; the operator states a segment size, not a count
        procedure("compact",
          Seq(param("table", StringType), param("cluster_by", StringType),
            paramDefault("num_partitions", IntegerType, "0"),
            paramDefault("mode", StringType, "'range'"),
            paramDefault("target_mb", IntegerType,
              (GraftMaintenance.DefaultTargetSegmentBytes / (1024 * 1024)).toString)),
          beforeAfter) { (spark, in) =>
          val (b, a) = GraftMaintenance.compact(spark,
            tableDir(warehouse, in.getUTF8String(0).toString),
            in.getUTF8String(1).toString, in.getInt(2), in.getUTF8String(3).toString,
            targetBytes = in.getInt(4).toLong * 1024 * 1024)
          Seq(row(b, a))
        }
      case "zorder" =>
        procedure("zorder",
          Seq(param("table", StringType), param("columns", StringType),
            paramDefault("num_partitions", IntegerType, "0"),
            paramDefault("target_mb", IntegerType,
              (GraftMaintenance.DefaultTargetSegmentBytes / (1024 * 1024)).toString)),
          beforeAfter) { (spark, in) =>
          val (b, a) = GraftMaintenance.compactZOrder(spark,
            tableDir(warehouse, in.getUTF8String(0).toString),
            csvArg(in.getUTF8String(1).toString),
            in.getInt(2), targetBytes = in.getInt(3).toLong * 1024 * 1024)
          Seq(row(b, a))
        }
      case "expire" =>
        procedure("expire",
          Seq(param("table", StringType), param("keep_last", IntegerType)),
          StructType(Seq(StructField("versions_removed", IntegerType, nullable = false)))) {
          (spark, in) =>
            Seq(row(GraftMaintenance.expire(spark,
              tableDir(warehouse, in.getUTF8String(0).toString), in.getInt(1))))
        }
      case "vacuum" =>
        procedure("vacuum",
          Seq(param("table", StringType),
            paramDefault("retention_ms", LongType,
              SegmentLog.DefaultVacuumRetentionMs.toString),
            paramDefault("dry_run", BooleanType, "false")),
          StructType(Seq(StructField("files_removed", IntegerType, nullable = false)))) {
          (spark, in) =>
            val dir = tableDir(warehouse, in.getUTF8String(0).toString)
            Seq(row(SegmentLog.vacuum(
              SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir,
              in.getLong(1), dryRun = in.getBoolean(2))))
        }
      case "update_mark" =>
        procedure("update_mark",
          Seq(param("table", StringType), param("predicate", StringType),
            param("set_column", StringType), param("set_expr", StringType)),
          StructType(Seq(StructField("rows_updated", LongType, nullable = false)))) {
          (spark, in) =>
            // merge-on-read UPDATE: old versions marked in deletion
            // vectors, new versions appended — one atomic commit,
            // cost ∝ matched rows
            Seq(row(GraftMaintenance.updateMark(spark,
              tableDir(warehouse, in.getUTF8String(0).toString),
              org.apache.spark.sql.functions.expr(in.getUTF8String(1).toString),
              Map(in.getUTF8String(2).toString ->
                org.apache.spark.sql.functions.expr(in.getUTF8String(3).toString)))))
        }
      case "compact_deletes" =>
        procedure("compact_deletes",
          Seq(param("table", StringType)),
          StructType(Seq(
            StructField("segments_materialized", IntegerType, nullable = false),
            StructField("dv_rows_dropped", LongType, nullable = false)))) {
          (spark, in) =>
            // partial compaction: rewrite ONLY the segments carrying a
            // deletion vector; the rest of the table is untouched
            val (n, dv) = GraftMaintenance.compactDeletes(spark,
              tableDir(warehouse, in.getUTF8String(0).toString))
            Seq(row(n, dv))
        }
      case "delete_mark" =>
        procedure("delete_mark",
          Seq(param("table", StringType), param("predicate", StringType)),
          StructType(Seq(StructField("rows_marked", LongType, nullable = false)))) {
          (spark, in) =>
            // merge-on-read DELETE: matched rows are marked in
            // per-segment deletion vectors — no row data rewritten
            // (compaction later materializes the vectors away)
            Seq(row(GraftMaintenance.deleteMark(spark,
              tableDir(warehouse, in.getUTF8String(0).toString),
              org.apache.spark.sql.functions.expr(in.getUTF8String(1).toString))))
        }
      case "delete_where" =>
        procedure("delete_where",
          Seq(param("table", StringType), param("predicate", StringType)),
          StructType(Seq(StructField("rows_remaining", LongType, nullable = false)))) {
          (spark, in) =>
            // the rewrite-path DELETE with a SQL predicate string —
            // rows matching the predicate are removed (SQL DELETE
            // null semantics); zone-decidable deletes go through the
            // plain DELETE statement instead
            Seq(row(GraftMaintenance.deleteRows(spark,
              tableDir(warehouse, in.getUTF8String(0).toString),
              org.apache.spark.sql.functions.expr(in.getUTF8String(1).toString))))
        }
      case "detail" =>
        procedure("detail",
          Seq(param("table", StringType)),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("n_segments", LongType, nullable = false),
            StructField("n_rows", LongType, nullable = false),
            StructField("n_bytes", LongType, nullable = false),
            StructField("layout", StringType, nullable = false),
            StructField("columns", StringType, nullable = false),
            StructField("n_versions_retained", LongType, nullable = false),
            StructField("n_txn_apps", LongType, nullable = false),
            StructField("n_dv_segments", LongType, nullable = false),
            StructField("n_dv_rows", LongType, nullable = false)))) { (spark, in) =>
          GraftMaintenance.detail(spark,
              tableDir(warehouse, in.getUTF8String(0).toString))
            .collect().toSeq.map(r => row(r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), UTF8String.fromString(r.getString(4)),
              UTF8String.fromString(r.getString(5)), r.getLong(6), r.getLong(7),
              r.getLong(8), r.getLong(9)))
        }
      case "rollback" =>
        procedure("rollback",
          Seq(param("table", StringType), param("version", LongType)),
          StructType(Seq(
            StructField("restored_version", LongType, nullable = false),
            StructField("new_version", LongType, nullable = false),
            StructField("n_segments", IntegerType, nullable = false),
            StructField("n_rows", LongType, nullable = false)))) { (spark, in) =>
          // RESTORE: one metadata commit re-installing the named
          // version's state; history stays forward (time travel still
          // reaches the rolled-back versions until expire)
          val to = in.getLong(1)
          val (v, nSeg, nRows) = GraftMaintenance.rollback(spark,
            tableDir(warehouse, in.getUTF8String(0).toString), to)
          Seq(row(to, v, nSeg, nRows))
        }
      case "rollback_to_timestamp" =>
        procedure("rollback_to_timestamp",
          Seq(param("table", StringType), param("ts_millis", LongType)),
          StructType(Seq(
            StructField("restored_version", LongType, nullable = false),
            StructField("new_version", LongType, nullable = false),
            StructField("n_segments", IntegerType, nullable = false),
            StructField("n_rows", LongType, nullable = false)))) { (spark, in) =>
          // "undo everything since t": bind t to the newest commit at
          // or before it, then restore that version
          val (bound, v, nSeg, nRows) = GraftMaintenance.rollbackToTimestamp(spark,
            tableDir(warehouse, in.getUTF8String(0).toString), in.getLong(1))
          Seq(row(bound, v, nSeg, nRows))
        }
      case "history" =>
        procedure("history",
          Seq(param("table", StringType)),
          StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("kind", StringType, nullable = false),
            StructField("n_segments", IntegerType, nullable = false),
            StructField("n_rows", LongType, nullable = false),
            // the manifest's commit wall-clock (what TIMESTAMP AS OF
            // binds to); null for legacy manifests without the field
            StructField("commit_ts", TimestampType, nullable = true)))) { (spark, in) =>
          GraftMaintenance.historyRows(spark,
              tableDir(warehouse, in.getUTF8String(0).toString))
            .map { case (v, kind, nSeg, nRows, ms) =>
              row(v, UTF8String.fromString(kind), nSeg, nRows,
                if (ms >= 0L) java.lang.Long.valueOf(ms * 1000L) else null) }
        }
      case "ndv" =>
        procedure("ndv",
          Seq(param("table", StringType)),
          StructType(Seq(
            StructField("col_name", StringType, nullable = false),
            StructField("n_est", DoubleType, nullable = false),
            StructField("exact", BooleanType, nullable = false)))) { (spark, in) =>
          // the manifest-resident distinct counts, straight off the
          // table-level pre-merged sketches — the ANALYZE-free answer
          // an operator sizes joins with; `exact` is true while the
          // merged sketch never saturated (count is exact modulo hash
          // collisions). O(k) per declared column, zero scans.
          val m = loadManifest(spark, warehouse, in.getUTF8String(0).toString)
          m.ndvMerged.toSeq.sortBy(_._1).map { case (c, b64) =>
            val sk = SegmentNdv.decode(b64)
            row(UTF8String.fromString(c), SegmentNdv.estimateMerged(sk),
              sk.length < SegmentNdv.K)
          }
        }
      case "histogram" =>
        procedure("histogram",
          Seq(param("table", StringType)),
          StructType(Seq(
            StructField("col_name", StringType, nullable = false),
            // exactly one of value / value_str is set per row: the
            // long canonical for the numeric family, the string
            // itself for STRING columns (the r16 engine-local arm)
            StructField("value", LongType, nullable = true),
            StructField("value_str", StringType, nullable = true),
            StructField("cnt", LongType, nullable = false),
            // false while any live segment carries a deletion vector:
            // the maps count dv'd rows until compaction, so the
            // "exact within caps" claim is then an over-approximation
            // — annotated, never silent (the metadata-only stance)
            StructField("exact", BooleanType, nullable = false)))) { (spark, in) =>
          // the manifest-resident value-frequency maps, straight off
          // the table-level merge the commit maintained — the skew
          // truth an operator reads before choosing a salt or a
          // broadcast, zero scans. EXACT while within the caps (the
          // sketch's honesty contract: overflowed columns are simply
          // absent) AND dv-free (`exact` column); long values are the
          // canonicals (epoch days for DATE, epoch micros for
          // TIMESTAMP, unscaled DECIMAL), strings are themselves in
          // UTF-8 byte order.
          val m = loadManifest(spark, warehouse, in.getUTF8String(0).toString)
          val ex = m.segments.forall(_.dvRows == 0L)
          val longs = m.histMerged.toSeq.map { case (c, b64) =>
            c -> SegmentHistogram.decode(b64).map { case (v, n) =>
              row(UTF8String.fromString(c), v, null, n, ex)
            }.toSeq
          }
          val strs = m.shistMerged.toSeq.map { case (c, b64) =>
            c -> SegmentHistogram.decodeStr(b64).map { case (v, n) =>
              row(UTF8String.fromString(c), null, v.clone(), n, ex)
            }.toSeq
          }
          (longs ++ strs).sortBy(_._1).flatMap(_._2)
        }
      case "quantiles" =>
        procedure("quantiles",
          Seq(param("table", StringType),
            paramDefault("quantiles", StringType, "'0.5'")),
          StructType(Seq(
            StructField("col_name", StringType, nullable = false),
            StructField("q", DoubleType, nullable = false),
            // exactly one of value / value_str per row — long
            // canonicals for the numeric family, the string itself
            // (byte-order quantile) for STRING columns
            StructField("value", LongType, nullable = true),
            StructField("value_str", StringType, nullable = true),
            // false while any live segment carries a deletion vector
            // (pre-delete mass until compaction) — see `histogram`
            StructField("exact", BooleanType, nullable = false)))) { (spark, in) =>
          // METADATA-ONLY discrete quantiles off the merged frequency
          // maps — the value at row ceil(q×N) in value order
          // ([[SegmentHistogram.quantile]]), exact within the caps,
          // zero scans at any table size. The partition-sizing /
          // salt-factor input an operator otherwise pays a full
          // percentile scan for. One row per declared column per q;
          // values are the long canonicals (epoch days/micros,
          // unscaled decimal). Over-approximate under deletion
          // vectors like every manifest statistic.
          // validate the REQUEST before touching any table state: a bad
          // q must error identically on empty, undeclared and
          // overflowed tables (an empty frame for q=1.7 would read as
          // a plausible answer), and a non-numeric q names the
          // parameter instead of surfacing a raw NumberFormatException
          val raw = csvArg(in.getUTF8String(1).toString)
          val qs = raw.map(t => scala.util.Try(t.toDouble).getOrElse(
            throw new IllegalArgumentException(
              s"quantiles must be numbers in [0,1], got '$t'")))
          require(qs.nonEmpty, "quantiles must name at least one q in [0,1]")
          qs.foreach(q => require(q >= 0.0 && q <= 1.0,
            s"quantiles must be in [0,1], got $q"))
          val m = loadManifest(spark, warehouse, in.getUTF8String(0).toString)
          val ex = m.segments.forall(_.dvRows == 0L)
          val longs = m.histMerged.toSeq.map { case (c, b64) =>
            val freq = SegmentHistogram.decode(b64)
            val total = freq.foldLeft(0L)(_ + _._2) // once per map, not per q
            c -> qs.map(q => row(UTF8String.fromString(c), q,
              SegmentHistogram.quantile(freq, q, total), null, ex))
          }
          val strs = m.shistMerged.toSeq.map { case (c, b64) =>
            val freq = SegmentHistogram.decodeStr(b64)
            val total = freq.foldLeft(0L)(_ + _._2)
            c -> qs.map(q => row(UTF8String.fromString(c), q, null,
              SegmentHistogram.quantileStr(freq, q, total).clone(), ex))
          }
          (longs ++ strs).sortBy(_._1).flatMap(_._2)
        }
      case "salts" =>
        // the skew statistic's operator face for SQL-only users: the
        // salted-join fan-out [[graft.ops.Skew.saltsFromHistogram]]
        // derives from the manifest frequency map (either value arm —
        // only counts matter), with `derived` = false when the column
        // is undeclared or overflowed and the fallback was served.
        // COMPOSITE keys (r18): a comma-separated column list derives
        // the minimum over DECLARED columns of the per-column bound —
        // count(k1=a ∧ k2=b) ≤ min_i count(ki=vi) — through the SAME
        // [[graft.ops.Skew.compositeSaltBounds]] resolution
        // SaltJoinRule plans with, so face and planner can never
        // drift; the fallback is served (derived=false) only when NO
        // listed column is declared. Zero scans; the alternative is a
        // GROUP BY over the fact side or a guessed constant.
        procedure("salts",
          Seq(param("table", StringType), param("column", StringType),
            param("target_rows", LongType),
            paramDefault("fallback", IntegerType, "8"),
            paramDefault("max_salts", IntegerType, "64")),
          StructType(Seq(
            StructField("salts", IntegerType, nullable = false),
            StructField("derived", BooleanType, nullable = false),
            // false while any live segment carries a deletion vector:
            // the maps hold PRE-delete mass until compaction, so a
            // derived split may be sized for rows that no longer
            // exist — annotated like histogram/quantiles
            StructField("exact", BooleanType, nullable = false)))) { (spark, in) =>
          // validate the REQUEST before touching table state (the
          // quantiles doctrine): a zero/negative fan-out would make
          // the salted join silently return an EMPTY result
          // (pmod(hash, 0) is null on every fact row)
          require(in.getLong(2) > 0,
            s"target_rows must be positive, got ${in.getLong(2)}")
          require(in.getInt(3) >= 1,
            s"fallback must be at least 1, got ${in.getInt(3)}")
          require(in.getInt(4) >= 1,
            s"max_salts must be at least 1, got ${in.getInt(4)}")
          val cols = csvArg(in.getUTF8String(1).toString)
          require(cols.nonEmpty, "column must name at least one column")
          val m = loadManifest(spark, warehouse, in.getUTF8String(0).toString)
          // compositeSaltBounds drops undeclared/overflowed columns
          // (incl. a present-but-empty counts array — the overflow
          // poison), so `derived` is exactly bounds.nonEmpty and the
          // annotation matches the branch actually taken
          val bounds = graft.ops.Skew.compositeSaltBounds(
            m, cols, in.getLong(2), in.getInt(4))
          Seq(row(if (bounds.isEmpty) in.getInt(3) else bounds.min,
            bounds.nonEmpty,
            m.segments.forall(_.dvRows == 0L)))
        }
      case "join_estimate" =>
        // ZERO-SCAN inner equi-join cardinality (r17): both sides'
        // merged frequency maps are EXACT within caps and count only
        // non-null values — exactly the rows an inner equi-join
        // matches — so Σ_v cA(v)·cB(v) over the value intersection is
        // not an estimate but the EXACT join row count whenever both
        // maps are present (`derived`=true). Undeclared / overflowed
        // on either side → n_rows NULL, derived=false (no silent
        // uniform-assumption guess); `exact` carries the sibling
        // procedures' dv annotation (the maps hold pre-delete mass
        // until compaction). The alternative at 100 TB is RUNNING the
        // join (or a COUNT over it) just to size it; this reads
        // O(cap) manifest entries per side. Same-arm resolution only:
        // a long key joins a long key, a string key a string key — a
        // cross-arm request has no sane equi-join to size.
        procedure("join_estimate",
          Seq(param("table_a", StringType), param("column_a", StringType),
            param("table_b", StringType), param("column_b", StringType)),
          StructType(Seq(
            StructField("n_rows", LongType, nullable = true),
            StructField("derived", BooleanType, nullable = false),
            StructField("exact", BooleanType, nullable = false)))) { (spark, in) =>
          val ma = loadManifest(spark, warehouse, in.getUTF8String(0).toString)
          val mb = loadManifest(spark, warehouse, in.getUTF8String(2).toString)
          val (ca, cb) = (in.getUTF8String(1).toString, in.getUTF8String(3).toString)
          def joinMass[K](a: Option[Array[(K, Long)]],
              b: Option[Array[(K, Long)]]): Option[BigInt] = (a, b) match {
            case (Some(xs), Some(ys)) =>
              val am = xs.toMap
              Some(ys.foldLeft(BigInt(0)) { case (acc, (v, n)) =>
                acc + BigInt(am.getOrElse(v, 0L)) * n })
            case _ => None
          }
          val mass = joinMass(
              ma.histMerged.get(ca).map(SegmentHistogram.decode),
              mb.histMerged.get(cb).map(SegmentHistogram.decode))
            .orElse(joinMass(
              ma.shistMerged.get(ca).map(SegmentHistogram.decodeStr),
              mb.shistMerged.get(cb).map(SegmentHistogram.decodeStr)))
          // a count past Long.MaxValue is not representable in the
          // BIGINT face (nor runnable) — clamp, never wrap
          val nRows = mass.map(_.min(BigInt(Long.MaxValue)).toLong)
          Seq(row(nRows.map(Long.box).orNull, mass.isDefined,
            (ma.segments ++ mb.segments).forall(_.dvRows == 0L)))
        }
      case "mixture_rates" =>
        // the data-mixing statistic's SQL face (r17): per-value
        // temperature keep-rates straight off the manifest frequency
        // map — share ∝ n^alpha through the SAME
        // Sampling.temperatureShares→mixtureRates chain the operator
        // uses (rate = min(1, (n_min/n)^(1-alpha)) by cancellation),
        // zero scans. alpha validated BEFORE table state (the
        // quantiles doctrine); an undeclared/poisoned column FAILS
        // diagnosably — there is no honest fallback rate. Either map
        // arm serves (long values rendered as strings); `exact`
        // carries the dv annotation.
        procedure("mixture_rates",
          Seq(param("table", StringType), param("column", StringType),
            paramDefault("alpha", DoubleType, "0.5")),
          StructType(Seq(
            StructField("value", StringType, nullable = false),
            StructField("n_rows", LongType, nullable = false),
            StructField("rate", DoubleType, nullable = false),
            StructField("exact", BooleanType, nullable = false)))) { (spark, in) =>
          val alpha = in.getDouble(2)
          require(alpha >= 0.0 && alpha <= 1.0,
            s"alpha must be in [0,1], got $alpha")
          val m = loadManifest(spark, warehouse, in.getUTF8String(0).toString)
          val c = in.getUTF8String(1).toString
          // the ONE shared arm resolution (Skew.mapEntries) — the
          // salts face reads the same entries' counts
          val totals: Seq[(String, Long)] =
            graft.ops.Skew.mapEntries(m, c)
              .getOrElse(throw new IllegalStateException(
                s"no merged frequency map for '$c' — undeclared, or the " +
                  "cap doctrine poisoned it to absent"))
          val tmap = totals.toMap
          val rates = graft.ops.Sampling.mixtureRates(tmap,
            graft.ops.Sampling.temperatureShares(tmap, alpha))
          val ex = m.segments.forall(_.dvRows == 0L)
          totals.sortBy(_._1).map { case (v, n) =>
            row(UTF8String.fromString(v), n, rates(v), ex) }
        }
      case "stats" =>
        procedure("stats",
          Seq(param("table", StringType)),
          StructType(Seq(
            StructField("col_name", StringType, nullable = false),
            StructField("n_values", LongType, nullable = false),
            StructField("n_nulls", LongType, nullable = false),
            StructField("min_val", StringType, nullable = true),
            StructField("max_val", StringType, nullable = true),
            StructField("ndv_est", DoubleType, nullable = true),
            StructField("len_sum", LongType, nullable = true),
            StructField("len_max", LongType, nullable = true),
            // the frequency histogram's EXACT distinct count (the
            // merged map's size), NULL when undeclared or overflowed
            // — NULL on a declared high-cardinality column is the
            // honesty guard showing through the SQL face
            StructField("hist_ndv", LongType, nullable = true)))) { (spark, in) =>
          // the WHOLE manifest statistics surface as one frame — what
          // an operator (or a quality dashboard) reads before sizing a
          // job, zero scans: zone-map bounds reduced across live
          // segments (typed compare; rendered via the engine-portable
          // canonicals — ISO dates, epoch-micros timestamps,
          // scale-padded decimals), null counts, the pre-merged NDV
          // estimate where declared, and Σ/max value bytes for
          // string/binary columns. ESTIMATES BY CONTRACT under
          // deletion vectors (a dv'd row still counts), exact on
          // dv-free tables. One row per live column, incl. one dotted
          // struct-field level; columns with no sound bounds (arrays,
          // maps, long strings) carry NULL min/max honestly.
          val m = loadManifest(spark, warehouse, in.getUTF8String(0).toString)
          val live: Seq[(String, DataType)] = m.schema.fields.toSeq.flatMap { f =>
            (f.name, f.dataType) +: (f.dataType match {
              case st: StructType =>
                st.fields.toSeq.map(cf => (s"${f.name}.${cf.name}", cf.dataType))
              case _ => Nil
            })
          }.distinctBy(_._1)
          val segs = m.segments
          def render(dt: DataType, isMin: Boolean,
              all: Seq[(String, String)]): String = {
            def longs = all.map(b => (if (isMin) b._1 else b._2).toLong)
            dt match {
              case ByteType | ShortType | IntegerType | LongType |
                  TimestampType | TimestampNTZType =>
                (if (isMin) longs.min else longs.max).toString
              case DateType => java.time.LocalDate
                .ofEpochDay(if (isMin) longs.min else longs.max).toString
              case FloatType | DoubleType =>
                val ds = all.map(b => (if (isMin) b._1 else b._2).toDouble)
                (if (isMin) ds.min else ds.max).toString
              case _: DecimalType =>
                val ds = all.map(b =>
                  new java.math.BigDecimal(if (isMin) b._1 else b._2))
                (if (isMin) ds.min(Ordering.comparatorToOrdering(
                    java.util.Comparator.naturalOrder[java.math.BigDecimal]()))
                 else ds.max(Ordering.comparatorToOrdering(
                    java.util.Comparator.naturalOrder[java.math.BigDecimal]())))
                  .toPlainString
              case StringType =>
                val ss = all.map(b => if (isMin) b._1 else b._2)
                if (isMin) ss.min else ss.max
              case _ => null
            }
          }
          live.filter(c => segs.nonEmpty && segs.forall(_.stats.contains(c._1)))
            .sortBy(_._1).map { case (name, dt) =>
              val per = segs.map(_.stats(name))
              val nulls = per.map(_.nullCount).sum
              val nVals = segs.map(_.rows).sum - nulls
              val bounds: (String, String) =
                if (nVals > 0 && per.forall(_.bounds.isDefined)) {
                  val all = per.map(_.bounds.get)
                  (render(dt, isMin = true, all), render(dt, isMin = false, all))
                } else (null, null)
              val ndv = m.ndvMerged.get(name)
                .map(b64 => SegmentNdv.estimateMerged(SegmentNdv.decode(b64)))
              val lenSum =
                if (per.forall(_.lenSum.isDefined)) per.map(_.lenSum.get).sum
                else -1L
              val lenMax =
                if (per.forall(_.lenMax.isDefined)) per.map(_.lenMax.get).max
                else -1L
              val histNdv = m.histMerged.get(name)
                .map(b64 => SegmentHistogram.decode(b64).length.toLong)
                .orElse(m.shistMerged.get(name)
                  .map(b64 => SegmentHistogram.decodeStr(b64).length.toLong))
              row(UTF8String.fromString(name), nVals, nulls,
                if (bounds._1 == null) null else UTF8String.fromString(bounds._1),
                if (bounds._2 == null) null else UTF8String.fromString(bounds._2),
                ndv.map(java.lang.Double.valueOf).orNull,
                if (lenSum < 0) null else java.lang.Long.valueOf(lenSum),
                if (lenMax < 0) null else java.lang.Long.valueOf(lenMax),
                histNdv.map(java.lang.Long.valueOf).orNull)
            }
        }
      case "clone" =>
        procedure("clone",
          Seq(param("table", StringType), param("target", StringType),
            paramDefault("deep", BooleanType, "true")),
          StructType(Seq(
            StructField("n_segments", IntegerType, nullable = false),
            StructField("n_rows", LongType, nullable = false)))) { (spark, in) =>
          val (n, rows) = GraftMaintenance.clone(spark,
            tableDir(warehouse, in.getUTF8String(0).toString),
            tableDir(warehouse, in.getUTF8String(1).toString),
            deep = in.getBoolean(2))
          Seq(row(n, rows))
        }
      case other => throw new UnsupportedOperationException(
        s"unknown procedure $other (have: ${All.mkString(", ")})")
    }
  }

  val All: Seq[String] =
    Seq("compact", "zorder", "expire", "vacuum", "history", "detail",
      "delete_where", "delete_mark", "compact_deletes", "update_mark",
      "rollback", "rollback_to_timestamp", "clone", "ndv", "stats", "histogram",
      "quantiles", "salts", "join_estimate", "mixture_rates")
}
