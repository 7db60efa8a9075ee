package graft.sources.segment

import java.io.{BufferedInputStream, DataInputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** CHANGE DATA FEED reads over a graft-segment table — the streaming
  * (and batch) face of [[GraftMaintenance.changes]]'s manifest-diff
  * CDC: every row of the table plus `_change_type` (insert | delete)
  * and `_commit_version`, computed by diffing adjacent manifest
  * versions BY SEGMENT IDENTITY — no change files are ever written.
  *
  * {{{
  * spark.readStream.format("graft-segment")
  *   .option("readChangeFeed", "true")
  *   .option("startingVersion", "0")   // default: now (future commits only)
  *   .load(dir)
  * }}}
  *
  * Offsets are MANIFEST VERSIONS (highest fully consumed), so a batch
  * is a closed version range and replanning a committed range yields
  * identical rows — exactly-once, even across compaction (a
  * dataChange = false step diffs to nothing). Deletes read the
  * REMOVED segment's file, which stays on disk while any retained
  * version references it: retention must cover the feed's lag, the
  * same contract as the append source's resurrection path. Rewritten
  * segments show copy-on-write granularity honestly (unchanged rows =
  * equal-valued delete+insert pairs), as documented on
  * [[GraftMaintenance.changes]].
  *
  * 100 TB: per-batch planning reads two manifests per version step and
  * plans ONLY changed segments; feed cost tracks changed bytes, never
  * table size.
  */
object GraftChangeFeed {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def feedSchema(table: StructType): StructType =
    StructType(table.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))

  /** One changed segment in a feed range. `dvDeltaBase = Some(oldDv)`
    * marks a BITMAP DELTA on a segment that survived the commit with a
    * changed deletion vector: as a "delete" the emitted rows are
    * `meta.dv ∖ oldDv` (merge-on-read deletes), as an "insert" they
    * are `oldDv ∖ meta.dv` (rows RESURRECTED by a [[SegmentLog
    * .rollback]] restoring an older, smaller vector) — both read from
    * the same data file. Otherwise reads emit the meta's live rows
    * (its own dv filters rows already dead before the change). */
  case class SegmentChange(meta: SegmentMeta, changeType: String, version: Long,
      dvDeltaBase: Option[Option[String]] = None,
      widen: Map[String, String] = Map.empty)

  /** The ONE change → partition mapping all three feed faces use
    * (batch, streaming, [[GraftMaintenance.changes]]). */
  def toPartition(root: String, tableSchema: StructType)(
      c: SegmentChange): InputPartition = {
    val cols =
      if (c.meta.cols.nonEmpty) c.meta.cols else tableSchema.fieldNames.toSeq
    c.dvDeltaBase match {
      case None => GraftCdfInputPartition(SegmentLog.abs(root, c.meta.path), cols,
        c.changeType, c.version, dv = c.meta.dv.map(SegmentLog.abs(root, _)),
        widen = c.widen)
      case Some(oldDv) if c.changeType == "insert" =>
        // rollback resurrection: emit rows dead BEFORE but live AFTER
        GraftCdfInputPartition(SegmentLog.abs(root, c.meta.path), cols,
          c.changeType, c.version,
          dv = c.meta.dv.map(SegmentLog.abs(root, _)), // rows STILL dead after
          emitOnlyDv = oldDv.map(SegmentLog.abs(root, _)), // old ∖ new
          widen = c.widen)
      case Some(oldDv) => GraftCdfInputPartition(SegmentLog.abs(root, c.meta.path), cols,
        c.changeType, c.version,
        dv = oldDv.map(SegmentLog.abs(root, _)), // rows dead BEFORE the commit
        emitOnlyDv = c.meta.dv.map(SegmentLog.abs(root, _)), // new ∖ old
        widen = c.widen)
    }
  }

  /** The changed segments in version range (from, to], metas
    * translated to the CURRENT logical view so readers resolve columns
    * across renames. Deletes are emitted for data-changing truncates
    * only — including DELETION-VECTOR growth on surviving segments
    * (merge-on-read deletes, emitted as the bitmap delta); compaction
    * steps diff to nothing. A [[SegmentLog.rollback]] step emits its
    * restores honestly: segments re-appearing under old ids and
    * vector SHRINK both surface as inserts of the resurrected rows. */
  def changedSegments(fs: org.apache.hadoop.fs.FileSystem, root: String,
      current: Manifest, from: Long, to: Long): Seq[SegmentChange] = {
    def view(v: Long): Manifest =
      SegmentLog.logicalView(
        SegmentLog.currentView(SegmentLog.readVersion(fs, root, v), current))
    // stored-type overrides from the view that OWNS the segment (each
    // version self-describes its lineage — exact across widen,
    // rollback, and rollback-across-widen); rows emit under the
    // CURRENT schema, up-cast in the reader
    def wid(owner: Manifest, s: SegmentMeta): Map[String, String] =
      SegmentLog.widenOverridesFor(owner, current.schema, s.id)
    val out = Seq.newBuilder[SegmentChange]
    // from < 0 = "from before the table existed": the empty base
    var prev = if (from < 0) Manifest(-1L, current.schema, Nil) else view(from)
    (from + 1 to to).foreach { v =>
      val cur = view(v)
      val prevIds = prev.segments.map(_.id).toSet
      val curIds = cur.segments.map(_.id).toSet
      // a dataChange=false segment appearing under a FRESH id is a
      // compaction output (rows already emitted under its inputs —
      // suppress); one re-appearing under an OLD id is a rollback
      // resurrection of previously-removed rows — emit. Ids are dense
      // and never reused, so `id ≤ prev.maxSegmentId` is exactly
      // "existed before this step".
      cur.segments.filter(s => !prevIds.contains(s.id) &&
          (s.dataChange || s.id <= prev.maxSegmentId))
        .foreach(s => out += SegmentChange(s, "insert", v, widen = wid(cur, s)))
      val isCompaction = cur.compactedThrough > prev.compactedThrough
      if (!isCompaction) {
        prev.segments.filterNot(s => curIds.contains(s.id))
          .foreach(s => out += SegmentChange(s, "delete", v, widen = wid(prev, s)))
        val prevById = prev.segments.map(s => s.id -> s).toMap
        cur.segments.foreach(s => prevById.get(s.id).foreach { p =>
          if (s.dv != p.dv) {
            // EXACT delta directions from the bitmaps themselves (two
            // LRU-cached sidecar reads at planning): a cardinality
            // comparison is unsound — a double rollback can restore a
            // vector DISJOINT from the current one, where BOTH
            // directions are nonempty yet one cardinality dominates.
            // The common merge-on-read delete (pure growth) still
            // plans exactly one delete change and no empty scans.
            def bits(dv: Option[String]): Array[Long] = dv
              .map(d => DeletionVector.read(fs, new org.apache.hadoop.fs.Path(SegmentLog.abs(root, d))))
              .getOrElse(Array.empty)
            val newB = bits(s.dv)
            val oldB = bits(p.dv)
            if (DeletionVector.diffNonEmpty(newB, oldB))
              out += SegmentChange(s, "delete", v, dvDeltaBase = Some(p.dv),
                widen = wid(cur, s))
            if (DeletionVector.diffNonEmpty(oldB, newB))
              out += SegmentChange(s, "insert", v, dvDeltaBase = Some(p.dv),
                widen = wid(cur, s))
          }
        })
      }
      prev = cur
    }
    out.result()
  }
}

case class GraftCdfInputPartition(file: String, cols: Seq[String],
    changeType: String, version: Long,
    dv: Option[String] = None, emitOnlyDv: Option[String] = None,
    widen: Map[String, String] = Map.empty)
    extends GraftPartition

/** The plain segment row reader ([[GraftReaderFactory]] — ONE home for
  * the column-mapping/evolution resolution rules) wrapped to append
  * the two constant feed columns. */
class GraftCdfReaderFactory(tableSchema: StructType,
    conf: SerializableHadoopConf,
    retired: Map[String, org.apache.spark.sql.types.DataType])
    extends PartitionReaderFactory {

  private val inner = new GraftReaderFactory(tableSchema, tableSchema, conf, retired)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdfInputPartition]
    val it = inner.createReader(p)
    val n = tableSchema.length
    val ct = UTF8String.fromString(p.changeType)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = it.next()
      override def get(): InternalRow = {
        val r = it.get()
        val out = new GenericInternalRow(n + 2)
        var i = 0
        while (i < n) { out.update(i, r.get(i, tableSchema.fields(i).dataType)); i += 1 }
        out.update(n, ct)
        out.update(n + 1, p.version)
        out
      }
      override def close(): Unit = it.close()
    }
  }
}

/** The CDF table: batch reads serve a closed version range, streaming
  * reads page through versions with exactly-once offsets. */
class GraftChangeFeedTable(root: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-segment-cdf $root"
  override def schema(): StructType = GraftChangeFeed.feedSchema(tableSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        private val conf =
          new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf())
        private def fs = SegmentLog.fs(root, conf.value)

        override def readSchema(): StructType = GraftChangeFeed.feedSchema(tableSchema)
        override def description(): String = s"graft-segment change feed $root"
        override def toBatch: Batch = this

        // startingVersion, or its wall-clock twin startingTimestamp
        // (epoch millis, inclusive — bound against the same monotonized
        // commit stamps as TIMESTAMP AS OF); exclusive
        private def startFrom(): Option[Long] = {
          val sv = Option(options.get("startingVersion"))
            .map(SegmentOpts.long("startingVersion", _) - 1)
          val st = Option(options.get("startingTimestamp"))
            .map(t => SegmentLog.versionStartAtTimestamp(fs, root,
              SegmentOpts.long("startingTimestamp", t)))
          require(sv.isEmpty || st.isEmpty,
            "startingVersion and startingTimestamp are exclusive")
          sv.orElse(st)
        }

        override def planInputPartitions(): Array[InputPartition] = {
          val cur = SegmentLog.readExisting(fs, root)
          val from = startFrom().getOrElse(
            throw new IllegalArgumentException(
              "batch change-feed reads need startingVersion or startingTimestamp " +
                "(streaming defaults to 'now')"))
          val to = Option(options.get("endingVersion"))
            .map(SegmentOpts.long("endingVersion", _)).getOrElse(cur.version)
          GraftChangeFeed.changedSegments(fs, root, cur, math.max(from, -1L), to)
            .map(GraftChangeFeed.toPartition(root, tableSchema)).toArray
        }

        override def createReaderFactory(): PartitionReaderFactory =
          new GraftCdfReaderFactory(tableSchema, conf,
            SegmentLog.read(fs, root).map(SegmentLog.markerTypes).getOrElse(Map.empty))

        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftChangeFeedStream(root, tableSchema, conf,
            startFrom().map(_ + 1),
            Option(options.get("maxVersionsPerTrigger"))
              .map(SegmentOpts.int("maxVersionsPerTrigger", _)).map { n =>
                require(n > 0, s"maxVersionsPerTrigger must be positive, got $n"); n
              })
      }
    }
}

/** Offset = highest manifest version fully consumed. */
case class GraftCdfOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

class GraftChangeFeedStream(root: String, tableSchema: StructType,
    conf: SerializableHadoopConf, startingVersion: Option[Long],
    maxVersionsPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def fs = SegmentLog.fs(root, conf.value)
  private def latest(): Long = SegmentLog.latestVersion(fs, root)

  @volatile private var frozen: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = frozen = Some(latest())

  override def initialOffset(): Offset =
    // default = "changes from now": the snapshot is the append
    // source's job, the feed's is the delta
    GraftCdfOffset(startingVersion.map(_ - 1).getOrElse(latest()))

  override def deserializeOffset(json: String): Offset = GraftCdfOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(Offset, ReadLimit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = frozen.getOrElse(latest())
    val from = start.asInstanceOf[GraftCdfOffset].version
    // the cap comes from the ReadLimit ARGUMENT (the engine may wrap or
    // compose what getDefaultReadLimit returned), not the option
    val capped = GraftSegmentSource.maxFilesOf(limit) match {
      case Some(n) => math.min(avail, from + n)
      case None => avail
    }
    GraftCdfOffset(math.max(from, capped))
  }

  override def reportLatestOffset(): Offset = GraftCdfOffset(latest())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftCdfOffset].version
    val to = end.asInstanceOf[GraftCdfOffset].version
    val cur = SegmentLog.read(fs, root).getOrElse(
      throw new IllegalStateException(s"no graft-segment table at $root"))
    // TYPE drift under a running feed: this stream decodes with its
    // init-time schema, so a widen committed after init (or a rollback
    // across one) would mis-type the new generation's bytes — refuse
    // loudly, same contract as the plain streaming source. Pre-init
    // widens are fine: per-partition registry overrides up-cast them.
    cur.schema.fields.foreach { f =>
      tableSchema.fields.find(_.name == f.name).foreach { s =>
        if (s.dataType != f.dataType) throw new IllegalStateException(
          s"column ${f.name} changed type ${s.dataType.simpleString} -> " +
            s"${f.dataType.simpleString} under this running change feed — " +
            "restart the stream to pick up the new schema")
      }
    }
    GraftChangeFeed.changedSegments(fs, root, cur, from, to)
      .map(GraftChangeFeed.toPartition(root, tableSchema)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdfReaderFactory(tableSchema, conf,
      SegmentLog.read(fs, root).map(SegmentLog.markerTypes).getOrElse(Map.empty))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
