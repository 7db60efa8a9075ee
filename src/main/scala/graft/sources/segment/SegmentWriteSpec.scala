package graft.sources.segment

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.types.StructType

/** Everything a [[GraftDataWriter]] needs to know about one write,
  * resolved once on the driver and shipped to the tasks: the physical
  * column names, the bloom / NDV-sketch / histogram columns, the
  * compiled CHECK constraints and generated columns, body compression
  * and the segment roll thresholds. Every write route (batch appends
  * and overwrites, compaction, stream epochs, copy-on-write rewrites,
  * merge-on-read inserted versions, CTAS/RTAS) builds its writers from
  * one of these, so a table declaration means the same on each. */
final case class SegmentWriteSpec(
    physNames: Seq[String],
    bloomFor: Set[String],
    bloomBits: Int,
    checks: Seq[SegmentChecks.CheckSpec],
    generated: Seq[SegmentGenerated.GenSpec],
    compress: Boolean,
    ndvFor: Set[String],
    histFor: Set[String],
    maxRows: Long,
    maxBytes: Long)

object SegmentWriteSpec {

  /** A write's explicit options, looked up case-insensitively. */
  def options(info: LogicalWriteInfo): Map[String, String] =
    CaseInsensitiveMap(info.options().asCaseSensitiveMap().asScala.toMap)

  /** Resolves a write against the table declared by `props` over
    * `tableSchema`. An explicit write option is a one-write table
    * property: it wins over the declaration — `bloomFor=""` or
    * `compress=none` switch one off — and column lists given as
    * options must name columns of `writeSchema`. Declared columns the
    * write does not carry are skipped (a mergeSchema partial append has
    * nothing to index there). `m` supplies the frozen physical names. */
  def resolve(spark: SparkSession, props: Map[String, String], tableSchema: StructType,
      m: Option[Manifest], writeSchema: StructType,
      options: Map[String, String]): SegmentWriteSpec = {
    def cols(key: String, parse: (String, Option[StructType]) => Set[String]): Set[String] =
      options.get(key).map(parse(_, Some(writeSchema)))
        .orElse(props.get(key).map(parse(_, None)))
        .getOrElse(Set.empty)
    def setting(key: String): Option[String] = options.get(key).orElse(props.get(key))
    // roll thresholds are write options only: 0 would roll after every
    // row, a one-row-per-file layout produced far from the option
    def positive(key: String): Long = options.get(key).map { v =>
      val n = SegmentOpts.long(key, v)
      require(n > 0, s"$key must be positive, got $n")
      n
    }.getOrElse(Long.MaxValue)
    val compress = setting("compress").getOrElse("none")
    require(compress == "none" || compress == "deflate",
      s"compress must be none|deflate, got '$compress'")
    SegmentWriteSpec(
      physNames = SegmentLog.physicalNames(m, writeSchema),
      bloomFor = cols("bloomFor", SegmentBloom.parseCols),
      bloomBits = SegmentBloom.validateBits(setting("bloomBits")
        .map(SegmentOpts.int("bloomBits", _)).getOrElse(SegmentBloom.DefaultBits)),
      checks = SegmentChecks.compileAll(spark, props, tableSchema, writeSchema),
      generated = SegmentGenerated.compileAll(spark, props, tableSchema, writeSchema),
      compress = compress == "deflate",
      ndvFor = cols("ndvFor", SegmentNdv.parseCols),
      histFor = cols("histFor", SegmentHistogram.parseCols),
      maxRows = positive("maxRowsPerSegment"),
      maxBytes = positive("maxBytesPerSegment"))
  }

  /** Resolves a write against the table `m` holds; `None` is a table
    * the write creates, which declares nothing yet. */
  def resolve(spark: SparkSession, m: Option[Manifest], writeSchema: StructType,
      options: Map[String, String]): SegmentWriteSpec =
    resolve(spark, m.fold(Map.empty[String, String])(_.props),
      m.fold(writeSchema)(_.schema), m, writeSchema, options)

  /** Everything [[resolve]] reads from a manifest: a write that caches
    * its spec across commits (the streaming sink) re-resolves exactly
    * when this changes. */
  private[segment] def inputsOf(m: Option[Manifest])
      : Option[(Map[String, String], StructType, Map[String, String], StructType)] =
    m.map(mf => (mf.props, mf.schema, mf.physicalOf, mf.retiredSchema))
}
