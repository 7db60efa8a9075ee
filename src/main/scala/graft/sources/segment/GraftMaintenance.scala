package graft.sources.segment

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance operations for graft-segment tables. Log-structured
  * storage makes these pure COMPOSITIONS of the read/write/commit
  * primitives — no special-cased file surgery:
  *
  *  - [[compact]]: a fragmented table (many small segments from
  *    micro-batch appends) is rewritten in place as `read → overwrite`.
  *    The scan pins the pre-compaction manifest, the overwrite's
  *    truncate commit only REFERENCES new segments (old files stay on
  *    disk), so reading the table you are rewriting is safe by
  *    construction — and the pre-compaction version remains readable
  *    via `versionAsOf` until expired.
  *  - [[expire]] + [[SegmentLog.vacuum]]: history retention. Expiry
  *    deletes manifest versions older than the retained window; vacuum
  *    then deletes data files no surviving version references.
  *
  * Streaming: [[compact]] commits with `dataChange = false`, so the
  * micro-batch source — whose offset is a segment-ID watermark, not a
  * position ([[GraftOffset]]) — keeps running checkpoints valid: a
  * caught-up stream skips the compaction output (its rows were already
  * delivered under their original ids) and a LAGGING stream re-reads
  * the replaced originals from retained manifest versions. The honest
  * boundary: `expire` past a lagging stream's offset (or past id 0 for
  * a not-yet-started one) makes that history unreachable and the
  * stream fails fast with "history was expired past this stream's
  * offset" — retention must cover your slowest stream's lag, the same
  * contract Delta's log retention imposes.
  *
  * 100 TB: compaction cost is one clustered rewrite of LIVE bytes;
  * expiry/vacuum are manifest-sized driver ops + unreferenced-file
  * deletes. Both are incremental-friendly (compact a partition-range
  * predicate at a time by filtering before overwrite).
  */
object GraftMaintenance {
  val Fmt = "graft-segment"

  /** Rewrite the table's live data as `numPartitions` clustered
    * segments — `mode = "range"` (zone-map-selective) or `"hash"`
    * (restores a bucket layout for storage-partitioned joins).
    * Returns (segments before, segments after). */
  /** Default compaction target: ~128 MiB per output segment — the
    * conventional object-store sweet spot (large enough to amortize
    * per-file overhead, small enough for parallel scans and targeted
    * rewrites). */
  val DefaultTargetSegmentBytes: Long = 128L * 1024 * 1024

  /** Output partition count for a full-table rewrite, derived from the
    * MANIFEST (r16): Σ live bytes (physical bytes scaled by the live
    * fraction under deletion vectors — compaction materializes the
    * vectors away, so the output holds only live rows) over the target
    * segment size. Zero scans at any table size: the operator says
    * "compact to ~128 MiB segments", not a partition count hand-
    * computed from a row-count query. */
  def deriveNumPartitions(m: Manifest,
      targetBytes: Long = DefaultTargetSegmentBytes): Int = {
    require(targetBytes > 0, "target bytes must be positive")
    val liveBytes = m.segments.map { s =>
      if (s.rows == 0) 0.0 else s.bytes.toDouble * s.liveRows / s.rows
    }.sum
    math.max(1, math.ceil(liveBytes / targetBytes).toInt)
  }

  /** `numPartitions <= 0` derives the output count from the manifest
    * ([[deriveNumPartitions]] at `targetBytes` per segment). */
  def compact(spark: SparkSession, dir: String, clusterBy: String,
      numPartitions: Int, mode: String = "range",
      targetBytes: Long = DefaultTargetSegmentBytes): (Int, Int) = {
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, dir)
    val before = m.map(_.segments.size).getOrElse(0)
    val n =
      if (numPartitions > 0) numPartitions
      else m.map(deriveNumPartitions(_, targetBytes)).getOrElse(1)
    spark.read.format(Fmt).load(dir)
      .write.format(Fmt)
      .option("clusterBy", clusterBy).option("numPartitions", n.toString)
      .option("clusterMode", mode)
      // rows are REORGANIZED, not changed: streams must not re-consume
      .option("dataChange", "false")
      .mode("overwrite").save(dir)
    val after = SegmentLog.read(fs, dir).map(_.segments.size).getOrElse(0)
    (before, after)
  }

  /** Z-ORDER compaction (Delta's OPTIMIZE ZORDER BY): rewrite the
    * table clustered on the INTERLEAVED BITS of several columns, so
    * each segment covers a small hyper-rectangle of the key space and
    * min/max zone maps stay selective for predicates on ANY of the
    * columns — lexicographic range clustering serves only its leading
    * key. Per column: an 8-bit rank against the global (min, max)
    * (two tiny aggregates — fully distributed), then the classic bit
    * interleave; the rewrite range-partitions + sorts on the z-value
    * and commits `dataChange = false`, so running streams are
    * untouched. Columns must be numeric/date/timestamp; the z-value
    * is internal and never stored.
    *
    * No declared BucketSpec results (z-order is multi-dim — no single
    * column's ranges are disjoint, so range-layout guarantees like
    * top-N pushdown and metadata DELETE decidability do NOT transfer);
    * what transfers is the zone-map selectivity this exists for.
    * Returns (segments before, after). */
  def compactZOrder(spark: SparkSession, dir: String, cols: Seq[String],
      numPartitions: Int,
      targetBytes: Long = DefaultTargetSegmentBytes): (Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, floor, greatest, least, lit, max, min, shiftleft, shiftright}
    require(cols.size >= 2, "z-order needs at least 2 columns (use clusterBy for 1)")
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.readExisting(fs, dir)
    val before = m.segments.size
    if (before == 0) return (0, 0) // nothing live to reorganize
    // <= 0 derives the output count from the manifest, like compact()
    val nParts =
      if (numPartitions > 0) numPartitions
      else deriveNumPartitions(m, targetBytes)
    val df = spark.read.format(Fmt).load(dir)
    // per-type numeric projection: date/timestamp columns go through
    // unix_date/unix_micros — Spark 4's default ANSI mode refuses the
    // direct DATE/TIMESTAMP_NTZ → DOUBLE cast
    def numeric(c: String): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.types._
      // one level of struct-field resolution ("meta.width"): z-order a
      // media table by its typed metadata; col(c) already addresses
      // nested fields, and the rewritten rows carry fresh per-field
      // zone maps, so nested predicates prune the z-ordered layout
      def resolve(name: String): Option[DataType] =
        df.schema.fields.find(_.name == name).map(_.dataType).orElse {
          val dot = name.indexOf('.')
          if (dot <= 0) None
          else df.schema.fields.find(_.name == name.substring(0, dot))
            .map(_.dataType) match {
            case Some(st: StructType) =>
              st.fields.find(_.name == name.substring(dot + 1)).map(_.dataType)
            case _ => None
          }
        }
      val dt = resolve(c).getOrElse(
        throw new IllegalArgumentException(s"z-order column $c not in table schema"))
      dt match {
        case DateType => org.apache.spark.sql.functions.unix_date(col(c)).cast("double")
        case TimestampType =>
          org.apache.spark.sql.functions.unix_micros(col(c)).cast("double")
        case TimestampNTZType =>
          org.apache.spark.sql.functions.unix_micros(col(c).cast("timestamp")).cast("double")
        case _: NumericType => col(c).cast("double")
        case other => throw new IllegalArgumentException(
          s"z-order column $c must be numeric/date/timestamp, got ${other.sql}")
      }
    }
    val aggs = cols.flatMap(c => Seq(min(numeric(c)), max(numeric(c))))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    // an all-null column (or an empty live row set) has no domain to
    // rank — rank it as constant 0 rather than NPE mid-maintenance
    val ranks = cols.zipWithIndex.map { case (c, i) =>
      if (mm.isNullAt(2 * i)) lit(0L)
      else {
        val (lo, hi) = (mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
        val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
        least(greatest(floor((numeric(c) - lit(lo)) / lit(span) * 256), lit(0)),
          lit(255)).cast("long")
      }
    }
    // interleave: bit b of column i lands at position b*k + i — nulls
    // sort first (rank coalesced to 0)
    val k = cols.size
    val z = (0 until 8).flatMap(b => ranks.zipWithIndex.map { case (r, i) =>
      shiftleft(shiftright(coalesce(r, lit(0L)), b).bitwiseAND(lit(1L)), b * k + i)
    }).reduce(_ bitwiseOR _)
    df.withColumn("_graft_z", z)
      .repartitionByRange(nParts, col("_graft_z"))
      .sortWithinPartitions("_graft_z")
      .drop("_graft_z")
      .write.format(Fmt)
      .option("dataChange", "false")
      .mode("overwrite").save(dir)
    val after = SegmentLog.read(fs, dir).map(_.segments.size).getOrElse(0)
    (before, after)
  }

  /** PARTIAL compaction: rewrite ONLY the live segments whose
    * root-relative paths are in `targets`, as one `dataChange = false`
    * replace commit — untouched segments carry over by reference with
    * their ids, stats and vectors. The incremental-maintenance
    * primitive a 100 TB table actually runs: cost ∝ targeted bytes,
    * not table size, and running streams stay valid exactly as under
    * full [[compact]] (output skipped, replaced originals re-readable
    * from retained history). The declared layout is dropped (a subset
    * rewrite cannot prove the global range/bucket invariant) — run a
    * full clustered [[compact]] to restore it. Returns (segments
    * rewritten, segments written). */
  def compactSegments(spark: SparkSession, dir: String,
      rawTargets: Seq[String], coalesceTo: Option[Int] = None): (Int, Int) = {
    // dedup up front: a duplicated path would otherwise fail the
    // liveness check below with an EMPTY "not live" list (the
    // visibility map has one entry per distinct path)
    val targets = rawTargets.distinct
    if (targets.isEmpty) return (0, 0)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.readExisting(fs, dir)
    val before = m.segments.size
    // the planned snapshot, end to end: the scan PINS to m's version
    // (versionAsOf) and the commit verifies each target's visibility
    // against m's fingerprint (expectVisibility) — a rival row-level
    // change landing anywhere in this window conflicts loudly instead
    // of being resurrected by the rewrite
    val expect = SegmentLog.visibilityOf(m.segments, targets.toSet)
    require(expect.size == targets.size,
      s"compactSegments targets not live in the manifest: " +
        targets.filterNot(expect.contains).mkString(", "))
    // `_segment` planning filter prunes the scan to exactly the
    // targeted files — nothing else is opened
    val abs = targets.map(SegmentLog.abs(dir, _))
    val scan = spark.read.format(Fmt)
      .option("versionAsOf", m.version.toString)
      .load(dir)
      .filter(org.apache.spark.sql.functions
        .col(GraftSegmentTable.SegmentCol).isin(abs: _*))
    // coalesceTo: merge small inputs into fewer outputs (autoCompact);
    // default keeps per-segment rewrite granularity (dv materialization)
    coalesceTo.map(n => scan.coalesce(math.max(1, n))).getOrElse(scan)
      .write.format(Fmt)
      .option("replaceSegments", targets.mkString(","))
      .option("expectVisibility", encodeVisibility(expect))
      .option("dataChange", "false")
      .mode("append").save(dir)
    val after = SegmentLog.read(fs, dir).map(_.segments.size).getOrElse(0)
    (targets.size, after - (before - targets.size))
  }

  /** `segPath|dvRelOrEmpty|dvRows` triples for the write path's
    * `expectVisibility` option (uuid-based paths never contain the
    * separators), sorted for a deterministic option value. */
  private def encodeVisibility(
      expect: Map[String, (Option[String], Long)]): String =
    expect.toSeq.sortBy(_._1)
      .map { case (p, (dv, n)) => s"$p|${dv.getOrElse("")}|$n" }
      .mkString(",")

  /** Compact exactly the segments whose zone maps say they MIGHT hold
    * rows matching `condition` — "OPTIMIZE WHERE": re-cluster the hot
    * key range after a burst of appends without touching the cold
    * 99%. Returns (segments rewritten, total live segments before). */
  def compactWhere(spark: SparkSession, dir: String,
      condition: org.apache.spark.sql.sources.Filter): (Int, Int) = {
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.readExisting(fs, dir)
    val view = SegmentLog.logicalView(m)
    val targets = view.segments
      .filterNot(seg => SegmentPruning.prunes(condition, m.schema, seg))
      .map(_.path)
    compactSegments(spark, dir, targets)
    (targets.size, m.segments.size)
  }

  /** Materialize DELETION VECTORS away: rewrite only the segments
    * carrying one ([[deleteMark]]'s output), restoring their
    * vectorized stat-exact shape. The dv'd fraction of a table is
    * transient by design — run this at compaction cadence. Returns
    * (segments materialized, dv rows dropped). */
  def compactDeletes(spark: SparkSession, dir: String): (Int, Long) = {
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.readExisting(fs, dir)
    val targets = m.segments.filter(_.dv.isDefined)
    compactSegments(spark, dir, targets.map(_.path))
    (targets.size, targets.map(_.dvRows).sum)
  }

  /** Merge-on-read DELETE via DELETION VECTORS ([[DeletionVector]]):
    * mark every row where `condition` IS TRUE (SQL DELETE semantics —
    * null-condition rows survive) as deleted in per-segment position
    * bitmaps, without rewriting any row data. The third DELETE tier,
    * between the metadata-only segment drop (predicate decides whole
    * segments) and [[deleteRows]]' full rewrite:
    *
    *  1. scan `(_segment, _pos)` of matching rows — zone maps/blooms
    *     prune unaffected segments, the projection reads no payload
    *     columns;
    *  2. per touched segment, union the positions into its (possibly
    *     pre-existing) bitmap and write a NEW dv file under `data/`
    *     (copy-on-write sidecars — old versions keep the old vector,
    *     so time travel and the change feed stay exact). Executor-side;
    *     the driver collects only (segment, dvPath, count) — O(touched
    *     segments);
    *  3. one [[SegmentLog.commitRewrite]]: touched segments get the
    *     new dv (fully-deleted segments drop outright), untouched
    *     segments carry over, the declared layout survives (no rows
    *     moved). Unlike merge-on-read SQL DML, no threshold purges the
    *     vectors afterwards: [[compactDeletes]] materializes them.
    *
    * The commit is DATA-CHANGING (running streams fail fast, the feed
    * emits the bitmap delta as deletes). 100 TB: cost ∝ matched rows +
    * touched-segment bitmaps — a GDPR erasure of a few thousand rows
    * writes kilobytes, not a table rewrite; the read-side toll (bitmap
    * probe per row, row-path decode) lasts until the next compact of
    * those segments materializes the vectors away. Returns rows
    * marked deleted. */
  def deleteMark(spark: SparkSession,
      dir: String, condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.readExisting(fs, dir)
    // scan pinned to `m`'s version: the matched positions, the prior-dv
    // unions AND the commit fingerprint below all reflect ONE snapshot —
    // no window for a rival commit to slip between them unnoticed
    val matched = spark.read.format(Fmt)
      .option("versionAsOf", m.version.toString).load(dir)
      .filter(coalesce(condition, lit(false)))
    val entries = writeDvSidecars(spark, dir, m, matched)
    if (entries.isEmpty) return 0L
    // the sidecars were unioned against `m`'s visibility: concurrent
    // appends survive, a rival row-level change to a touched segment
    // conflicts loudly
    SegmentLog.commitRewrite(fs, dir, Some(m), Set.empty, entries, Nil, "deleteMark")
    newlyMarked(m, entries)
  }

  /** Compute and WRITE (no commit) per-segment deletion-vector
    * sidecars covering `matched`'s rows, each unioned with the
    * segment's prior vector — the shared core of [[deleteMark]] and
    * [[updateMark]]. Executor-side; the driver collects only
    * (segment, dvPath, cardinality) — O(touched segments). The files
    * are unreferenced until a commit names them, so an abort leaves
    * vacuum fodder, never data. Returns root-relative segment path →
    * (new dv relative path, CUMULATIVE cardinality).
    *
    * Positions aggregate as a BITMAP ([[graft.functions.PosBitmap]]),
    * never a per-row list: per-segment aggregation state is bounded by
    * segment ROW COUNT / 8 bytes (a predicate matching ~all of a
    * 100M-row segment holds 12.5 MB, not an 800 MB positions array),
    * partial aggregation merges bitmaps map-side, and the shuffle
    * ships one bitmap per (map task × touched segment). */
  private def writeDvSidecars(spark: SparkSession, dir: String, m: Manifest,
      matched: org.apache.spark.sql.DataFrame): Map[String, (String, Long)] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val hits = matched
      .select(col(GraftSegmentTable.SegmentCol).as("seg"),
        col(GraftSegmentTable.PosCol).as("pos"))
      .groupBy("seg").agg(graft.functions.PosBitmap.posBitmap(col("pos")).as("bits"))
    // (prior vector, rows) keyed by the absolute segment path the scan emits
    val live: Map[String, (Option[String], Long)] =
      m.segments.map(s => SegmentLog.abs(dir, s.path) -> ((s.dv, s.rows))).toMap
    val sconf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    hits.as[(String, Array[Byte])]
      .map { case (seg, bytes) =>
        val (prior, rows) = live(seg)
        val (rel, n) = DeletionVector.writeUnion(new Path(seg).getFileSystem(sconf.value),
          dir, prior, graft.functions.PosBitmap.decode(bytes), rows)
        (seg, rel, n)
      }.collect()
      .map { case (seg, rel, n) => seg.stripPrefix(s"$dir/") -> ((rel, n)) }.toMap
  }

  /** Rows the sidecars newly marked: cumulative cardinalities minus
    * the segments' prior dvRows. */
  private def newlyMarked(m: Manifest, entries: Map[String, (String, Long)]): Long =
    m.segments.flatMap(s => entries.get(s.path).map(_._2 - s.dvRows)).sum

  /** Merge-on-read UPDATE: mark every matched row's OLD version in
    * per-segment deletion vectors and append the NEW versions — ONE
    * atomic manifest commit via the write path's `applyDvs` option,
    * cost ∝ matched ROWS, never matched segments. The point-update
    * complement to the group-based copy-on-write UPDATE (SQL `UPDATE`
    * through [[GraftRowLevelOperation]]), which rewrites every row of
    * every touched segment: updating 1k rows scattered across 1k
    * segments of a 100 TB table writes kilobytes of bitmaps + one
    * small appended segment instead of re-copying the segments.
    *
    * `assignments` maps column name → new-value expression (evaluated
    * over the matched rows; other columns carry over). The change feed
    * shows the update at ROW granularity — bitmap-delta deletes of the
    * old versions plus inserts of the new — tighter than the rewrite
    * path's whole-segment delete+insert pairs. Like the DELETE tiers,
    * the commit is data-changing: running streams fail fast unless
    * they opted into `skipChangeCommits`. The appended new-version
    * segments carry no layout label, so a declared layout is dropped
    * (as with the rewrite path) — a later clustered [[compact]]
    * restores it. Returns rows updated. */
  def updateMark(spark: SparkSession, dir: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(assignments.nonEmpty, "updateMark needs at least one assignment")
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.readExisting(fs, dir)
    assignments.keys.foreach(c => require(m.schema.fieldNames.contains(c),
      s"assignment column $c not in table schema"))
    // scan pinned to `m`'s version (see deleteMark): positions, prior-dv
    // unions, the new row versions and the commit fingerprint all
    // reflect the SAME snapshot
    val matched = spark.read.format(Fmt)
      .option("versionAsOf", m.version.toString).load(dir)
      .filter(coalesce(condition, lit(false)))
    // 1. sidecars for the old versions (written, not yet committed)
    val entries = writeDvSidecars(spark, dir, m, matched)
    if (entries.isEmpty) return 0L
    // 2. the new versions, appended with the dv patch riding the SAME
    //    commit (applyDvs) — no reader ever sees old and new together.
    //    expectVisibility carries `m`'s fingerprint of the touched
    //    segments, so the commit races against `m`, not against
    //    whatever manifest the write factory happens to see (the
    //    r9-advice TOCTOU)
    val updated = matched.select(m.schema.fieldNames.map(n =>
      assignments.get(n).map(_.as(n)).getOrElse(col(n))): _*)
    updated.write.format(Fmt)
      .option("applyDvs", entries.toSeq.sortBy(_._1)
        .map { case (p, (d, n)) => s"$p|$d|$n" }.mkString(","))
      .option("expectVisibility",
        encodeVisibility(SegmentLog.visibilityOf(m.segments, entries.keySet)))
      .mode("append").save(dir)
    newlyMarked(m, entries)
  }

  /** The rewrite half of DELETE: keep every row where `condition` is
    * not TRUE (SQL DELETE semantics — null-condition rows survive),
    * rewritten in place. Use when the predicate does not decide whole
    * segments (the metadata-only path on [[GraftSegmentTable]] handles
    * the case where it does) and the deleted fraction is large enough
    * that [[deleteMark]]'s read-side bitmap toll is worse than a
    * rewrite. Returns rows remaining. */
  def deleteRows(spark: SparkSession, dir: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val spec = SegmentLog.read(fs, dir).flatMap(_.bucketing)
    val kept = spark.read.format(Fmt).load(dir)
      .filter(not(coalesce(condition, lit(false))))
    // the rewrite preserves a declared layout instead of flattening it
    val w0 = kept.write.format(Fmt).mode("overwrite")
    val w = spec match {
      case Some(b) => w0.option("clusterBy", b.cols.mkString(","))
        .option("numPartitions", b.n.toString).option("clusterMode", b.mode)
      case None => w0
    }
    w.save(dir)
    spark.read.format(Fmt).load(dir).count()
  }

  /** Table introspection as a one-row DataFrame (DESCRIBE DETAIL):
    * live version, segment/row/byte totals, declared layout, columns,
    * retained history depth, streaming txn apps. Driver-side manifest
    * reads only. */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.readExisting(fs, dir)
    val live = SegmentLog.liveVersions(fs, dir)
    Seq((m.version, m.segments.size.toLong, m.segments.map(_.liveRows).sum,
      m.segments.map(_.bytes).sum,
      m.bucketing.map(b => s"${b.mode}(${b.cols.mkString(",")}, ${b.n})").getOrElse("none"),
      m.schema.fieldNames.mkString(","), live.size.toLong, m.txns.size.toLong,
      m.segments.count(_.dv.isDefined).toLong, m.segments.map(_.dvRows).sum))
      .toDF("version", "n_segments", "n_rows", "n_bytes",
        "layout", "columns", "n_versions_retained", "n_txn_apps",
        "n_dv_segments", "n_dv_rows")
  }

  /** Row-level CHANGE FEED between two committed versions, computed
    * from manifest diffs by segment identity — no change files are
    * written at commit time (Delta CDF's storage cost) because segment
    * granularity already encodes the diff:
    *
    *  - an ADDED `dataChange` segment's rows are `insert`s at its
    *    commit version (appends, and the rewrite half of
    *    UPDATE/MERGE/deleteRows);
    *  - a segment REMOVED by a data-changing truncate carries
    *    `delete`s (the metadata-only DELETE path, and the replaced
    *    half of rewrites);
    *  - compaction steps (dataChange = false) contribute NOTHING — the
    *    rows did not change, only their layout.
    *
    * Copy-on-write granularity shows through honestly: a rewritten
    * segment's unchanged rows appear as delete+insert pairs with equal
    * values (net no-op for a downstream MERGE consumer). Columns:
    * the table schema + `_change_type` (insert|delete) +
    * `_commit_version`. Each step's scan plans ONLY the touched
    * segments — the `_segment` metadata filter prunes at planning, so
    * feed cost ∝ changed bytes, not table size. Both endpoint versions
    * (and every step between) must still be retained; expired history
    * fails with the manifest-expired error.
    *
    * 100 TB: this is the batch CDC face of the format — downstream
    * incremental consumers read `changes(v_last, v_now)` instead of
    * diffing snapshots (store_table_diff's O(table) shape). */
  def changes(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    // one implementation: the CDF read path ([[GraftChangeFeed]] —
    // also reachable as option("readChangeFeed","true") on batch and
    // streaming reads); this wrapper keeps the maintenance-API face
    require(toVersion < 0 || fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    val df = spark.read.format(Fmt)
      .option("readChangeFeed", "true")
      .option("startingVersion", (fromVersion + 1).toString)
    (if (toVersion >= 0) df.option("endingVersion", toVersion.toString) else df)
      .load(dir)
  }

  /** DESCRIBE HISTORY: one row per RETAINED manifest version with the
    * commit's classified kind — `create` (empty first commit),
    * `append`, `replace` (data-changing truncate: overwrite /
    * DELETE / MERGE rewrite), `compact` (dataChange=false rewrite),
    * `restore` (a [[SegmentLog.rollback]]: an old segment id
    * re-appears or a deletion vector shrinks — a rollback that only
    * drops trailing appends is indistinguishable from `replace` and
    * labels as such), `ddl` (schema-only), `metadata` (txn ledger
    * only), or `expired-base` (the oldest retained version when its
    * predecessors are gone — its own kind is unknowable). Driver-side
    * manifest reads only; deliberately NO wall-clock column, so the
    * result is deterministic and oracle-checkable. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // commit_ts is the manifest's recorded wall-clock (what TIMESTAMP
    // AS OF binds to) — a TIMESTAMP column, null for legacy manifests
    // that pre-date the field. Deterministic certificates project it
    // away (the E4 exclusion pattern); the introspection face exposes
    // what the log stores.
    historyRows(spark, dir)
      .toDF("version", "kind", "n_segments", "n_rows", "commit_ms")
      .withColumn("commit_ts",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("commit_ms") >= 0L,
          org.apache.spark.sql.functions.timestamp_millis(
            org.apache.spark.sql.functions.col("commit_ms"))))
      .drop("commit_ms")
  }

  /** [[history]]'s driver-side rows (the CALL procedure consumes these
    * directly — the ledger never needs a plan). Kinds are classified
    * from the SEGMENT DIFF against the previous retained version, not
    * from the truncateVersion field: legacy manifests backfill that
    * field conservatively (their own version), which would mislabel
    * every legacy commit as a replace. The fifth element is the
    * manifest's commit wall-clock in millis (-1 when unrecorded). */
  def historyRows(spark: SparkSession,
      dir: String): Seq[(Long, String, Int, Long, Long)] = {
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val versions = SegmentLog.liveVersions(fs, dir).sorted
    require(versions.nonEmpty, s"no graft-segment table at $dir")
    var prev: Option[Manifest] = None
    versions.map { v =>
      val m = SegmentLog.readVersion(fs, dir, v)
      val kind = prev match {
        case None if v == 0 && m.segments.isEmpty => "create"
        case None if v == 0 => "append"
        case None => "expired-base"
        case Some(p) =>
          val prevIds = p.segments.map(_.id).toSet
          val curIds = m.segments.map(_.id).toSet
          val prevById = p.segments.map(s => s.id -> s).toMap
          if (m.compactedThrough > p.compactedThrough) "compact"
          // resurrection signals — an old id re-appearing (ids are
          // never reused, so this only rollback does) or previously-
          // dead positions coming back to life (exact bitmap probe:
          // cardinality would miss a restored DISJOINT vector) —
          // label the commit as the RESTORE it is
          else if (curIds.diff(prevIds).exists(_ <= p.maxSegmentId) ||
              m.segments.exists(s => prevById.get(s.id).exists(pp => pp.dv != s.dv &&
                DeletionVector.diffNonEmpty(
                  pp.dv.map(d => DeletionVector.read(fs, new Path(SegmentLog.abs(dir, d))))
                    .getOrElse(Array.empty),
                  s.dv.map(d => DeletionVector.read(fs, new Path(SegmentLog.abs(dir, d))))
                    .getOrElse(Array.empty)))))
            "restore"
          else if (prevIds.diff(curIds).nonEmpty) "replace"
          // deletion-vector growth on surviving segments: rows were
          // deleted without any segment leaving — a replace, not
          // metadata
          else if (m.segments.exists(s => prevById.get(s.id).exists(_.dv != s.dv)))
            "replace"
          else if (curIds.diff(prevIds).nonEmpty) "append"
          else if (m.schema != p.schema) "ddl"
          else "metadata"
      }
      prev = Some(m)
      (v, kind, m.segments.size, m.segments.map(_.liveRows).sum, m.ts)
    }
  }

  /** Opt-in AUTO-COMPACTION (the Delta autoCompact shape): declared
    * per table as `TBLPROPERTIES('autoCompactSegments'='n')` (+
    * optional `autoCompactBytes`, default 16 MiB) — after an append
    * commit, once `n` or more live dv-free segments are smaller than
    * the byte threshold, they are rewritten into fewer segments in one
    * best-effort `dataChange=false` commit (stream-invisible, like any
    * compaction). Small-file hygiene enforced by construction instead
    * of a cron job: a micro-batch sink cannot fragment a table
    * unboundedly. Declared-layout tables are skipped (a partial
    * rewrite cannot prove the global range/bucket invariant — use the
    * full `compact`). */
  def autoCompact(spark: SparkSession, dir: String): Unit = {
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    SegmentLog.read(fs, dir).foreach { m =>
      val minSegs = m.props.get("autoCompactSegments") match {
        case Some(v) => v.toInt
        case None => return
      }
      if (m.bucketing.isDefined) return
      val smallBytes = m.props.get("autoCompactBytes")
        .map(_.toLong).getOrElse(16L * 1024 * 1024)
      val small = m.segments.filter(s => s.bytes < smallBytes && s.dv.isEmpty)
      if (small.size >= minSegs) {
        // outputs sized to the threshold: ceil(total/smallBytes)
        val outs = math.max(1,
          ((small.map(_.bytes).sum + smallBytes - 1) / smallBytes).toInt)
        // best-effort: a rival commit racing the rewrite merely
        // postpones the cleanup to the next append
        try compactSegments(spark, dir, small.map(_.path), Some(outs))
        catch { case scala.util.control.NonFatal(e) =>
          // best-effort but visible: repeated auto-compaction failures
          // would otherwise silently leave the small-segment pileup
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"graft-segment: auto-compaction failed under $dir for " +
              s"${small.size} small segments; retried on the next append", e)
        }
      }
    }
  }

  /** CLONE a table (the Delta CLONE shape): one new table at `dst`
    * whose v0 manifest references `src`'s segments at `version`
    * (default: latest).
    *
    *  - `deep = false` — SHALLOW: zero data copied; the manifest
    *    records ABSOLUTE source paths (segments and deletion vectors),
    *    which every read path already resolves ([[SegmentLog.abs]]).
    *    The dev/test-sandbox shape at 100 TB: a full "copy" of a
    *    petabyte table is one manifest write. Caveat (Delta's own):
    *    vacuuming or fully rewriting the SOURCE can remove files the
    *    clone references — shallow clones share the source's
    *    retention. Writes to the clone land under the CLONE's root
    *    and never touch the source; a later compact materializes the
    *    clone fully independent.
    *  - `deep = true` — full copy, EXECUTOR-PARALLEL (one task per
    *    file): the clone is immediately independent.
    *
    * Stats, blooms, deletion vectors, the declared layout, and the
    * table properties (checks, compress, rowLevelMode, bloom
    * declarations) all carry; segment ids are re-assigned by the v0
    * commit (ids are table-lifetime-scoped). Tables with live column
    * mapping (rename/drop history) or un-materialized type widenings
    * are refused with the compact-first recipe — their segment bytes
    * are only decodable through registries the fresh manifest does
    * not carry. Returns (segments, rows) cloned. */
  def clone(spark: SparkSession, src: String, dst: String,
      version: Option[Long] = None, deep: Boolean = true): (Int, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val sfs = SegmentLog.fs(src, conf)
    val latest = SegmentLog.readExisting(sfs, src)
    val base = version.map(v => SegmentLog.readVersion(sfs, src, v)).getOrElse(latest)
    val dfs = SegmentLog.fs(dst, conf)
    require(SegmentLog.read(dfs, dst).isEmpty, s"clone target $dst already exists")
    require(base.physicalOf.isEmpty && base.retiredSchema.fields.isEmpty,
      s"cannot clone $src: live column mapping (rename/drop history) — " +
        "compact + CTAS to materialize the logical names first")
    require(base.segments.forall(s =>
        SegmentLog.widenOverridesFor(base, base.schema, s.id).isEmpty),
      s"cannot clone $src: pre-widen segments decode through the type " +
        "registry the clone would not carry — compact them first")
    val cloned: Seq[SegmentMeta] =
      if (!deep) base.segments.map(s => s.copy(
        path = SegmentLog.abs(src, s.path),
        dv = s.dv.map(SegmentLog.abs(src, _)),
        id = -1L))
      else {
        // fresh uuid-named targets (a source path may itself be
        // absolute — a deep clone of a shallow clone), copied one
        // file per task
        val sconf = new SerializableHadoopConf(conf)
        val withTargets = base.segments.map { s =>
          val segRel = s"${SegmentLog.DataDir}/seg-${java.util.UUID.randomUUID()}.bin"
          val dvRel = s.dv.map(_ => s"${SegmentLog.DataDir}/${java.util.UUID.randomUUID()}.dv")
          (s, segRel, dvRel)
        }
        val copies = withTargets.flatMap { case (s, segRel, dvRel) =>
          Seq(SegmentLog.abs(src, s.path) -> segRel) ++
            s.dv.zip(dvRel).map { case (d, r) => SegmentLog.abs(src, d) -> r }.toSeq
        }
        // bounded task count: a million-file table copies a batch of
        // files per task instead of flooding the scheduler
        spark.sparkContext.parallelize(copies,
          math.max(1, math.min(copies.size, 1024)))
          .foreach { case (from, rel) =>
            val c = sconf.value
            val fp = new Path(from)
            val tp = new Path(s"$dst/$rel")
            org.apache.hadoop.fs.FileUtil.copy(
              fp.getFileSystem(c), fp, tp.getFileSystem(c), tp,
              false, false, c)
          }
        withTargets.map { case (s, segRel, dvRel) =>
          s.copy(path = segRel, dv = dvRel, id = -1L) }
      }
    SegmentLog.commit(dfs, dst, base.schema, cloned, truncate = true,
      bucketing = base.bucketing, props = base.props)
    (cloned.size, cloned.map(_.liveRows).sum)
  }

  /** Delete manifest versions older than the last `keepLast`. Time
    * travel reaches only retained versions afterwards; run
    * [[SegmentLog.vacuum]] next to drop newly-unreferenced data files.
    * Returns the number of manifest versions removed. */
  def expire(spark: SparkSession, dir: String, keepLast: Int): Int = {
    require(keepLast >= 1, "must retain at least the latest version")
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val latest = SegmentLog.latestVersion(fs, dir)
    if (latest < 0) return 0
    val cutoff = latest - keepLast + 1
    var n = 0
    (0L until cutoff).foreach { v =>
      val p = new Path(new Path(dir, SegmentLog.LogDir), f"manifest-$v%012d.json")
      if (fs.exists(p)) { fs.delete(p, false); n += 1 }
    }
    n
  }

  /** [[SegmentLog.rollback]] plus the post-restore summary the CALL
    * procedure reports: (new version, live segments, live rows). */
  def rollback(spark: SparkSession, dir: String, toVersion: Long): (Long, Int, Long) = {
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val v = SegmentLog.rollback(fs, dir, toVersion)
    val m = SegmentLog.readVersion(fs, dir, v)
    (v, m.segments.size, m.segments.map(_.liveRows).sum)
  }

  /** Time-denominated [[rollback]]: restore the newest version
    * committed at or before `tsMillis` ([[SegmentLog.versionAtTimestamp]]
    * — the "undo everything since 14:00" recovery query). Returns the
    * bound version alongside the summary. */
  def rollbackToTimestamp(spark: SparkSession, dir: String,
      tsMillis: Long): (Long, Long, Int, Long) = {
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val bound = SegmentLog.versionAtTimestamp(fs, dir, tsMillis)
    val (v, nSeg, nRows) = rollback(spark, dir, bound)
    (bound, v, nSeg, nRows)
  }
}
