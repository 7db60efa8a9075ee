package graft.sources.segment

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Per-segment bloom filters for POINT-LOOKUP pruning — the
  * complement to zone maps: min/max decides range predicates on the
  * CLUSTERED column, a bloom decides equality on columns the layout
  * does not order (the "find this customer on an orderkey-clustered
  * table" shape). Requested per write with
  * `option("bloomFor", "c1,c2")` (+ `bloomBits`, default 8192 ≈ 1 KB
  * per column per segment in the manifest); tested at planning by
  * [[SegmentPruning]] for `EqualTo`/`In`/`EqualNullSafe`.
  *
  * Soundness is one-sided by construction: a bloom answers "value
  * definitely absent" or "maybe present" — false positives keep a
  * segment (pure I/O cost), false negatives cannot occur, and every
  * pushed filter stays residual anyway. The write side hashes decoded
  * [[InternalRow]] values, the pruning side hashes pushed java
  * literals; [[hashRow]] and [[hashValue]] canonicalize both to the
  * same key (long for the integer family, UTF-8 bytes for strings) —
  * spec-certified, since a silent mismatch would disable pruning
  * without failing anything. Floats/doubles carry no bloom (equality
  * on them is a smell; NaN/−0.0 canonicalization is a trap).
  *
  * 100 TB: the bloom lives in the MANIFEST, so a point lookup prunes
  * at the driver before any task launches — same altitude as the zone
  * maps, ~1 KB × segments × bloomed columns of metadata. k = 6
  * double-hashed probes gives ~1% fpp at m/n ≈ 10 bits/distinct;
  * oversized segments degrade toward "keep everything", never toward
  * wrong answers.
  */
object SegmentBloom {
  val DefaultBits = 8192
  private val K = 6

  /** The ONE parser for bloom-column CSVs (write options, table
    * properties, catalog DDL); validates against a schema when given. */
  def parseCols(csv: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Set[String] = {
    val cols = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    // dotted names declare blooms on STRUCT FIELDS ("meta.lang") —
    // the point-lookup complement of the per-field zone maps; an
    // exact top-level column name always wins the resolution (the
    // shared bloomFor/ndvFor/histFor rule)
    cols.foreach(c => require(
      schema.forall(SegmentCodec.resolveStatsColumn(_, c).isDefined),
      s"bloomFor column $c not in schema (top-level or struct field)"))
    cols
  }

  /** The ONE bloomBits guard, applied where the effective config
    * resolves ([[SegmentWriteSpec.resolve]]) so write options
    * and table properties get the same validation as catalog DDL:
    * at least 64, rounded UP to a whole number of 64-bit words.
    * Unguarded, 1..63 allocates a ZERO-length filter (`bloomBits/64 ==
    * 0`) and every write task dies in [[put]] with a division by zero;
    * a non-multiple of 64 silently truncates the requested size. */
  def validateBits(bits: Int): Int = {
    require(bits >= 64, s"bloomBits must be >= 64, got $bits")
    ((bits + 63) / 64) * 64
  }

  def bloomable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | StringType => true
    case _ => false
  }

  /** splitmix64 — the long-key mixer. */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** FNV-1a 64 over bytes — the string-key hash. */
  private def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Write-side canonical hash of a decoded row value. */
  def hashRow(dt: DataType, row: InternalRow, ordinal: Int): Long = dt match {
    case IntegerType | DateType => mix64(row.getInt(ordinal).toLong)
    case ByteType => mix64(row.getByte(ordinal).toLong)
    case ShortType => mix64(row.getShort(ordinal).toLong)
    case LongType | TimestampType | TimestampNTZType => mix64(row.getLong(ordinal))
    case StringType => mix64(fnv64(row.getUTF8String(ordinal).getBytes))
    case _ => 0L
  }

  /** Pruning-side canonical hash of a pushed literal; None when the
    * literal cannot be soundly mapped into the column's key domain
    * (then the bloom simply does not engage). */
  def hashValue(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (IntegerType, i: Int) => Some(mix64(i.toLong))
    // the whole integer family canonicalizes through mix64(toLong), so
    // blooms stay engaged across byte→short→int→long widens
    case (ByteType, b: Byte) => Some(mix64(b.toLong))
    case (ShortType, s2: Short) => Some(mix64(s2.toLong))
    case (LongType, l: Long) => Some(mix64(l))
    case (LongType, i: Int) => Some(mix64(i.toLong))
    case (DateType, d: java.sql.Date) => Some(mix64(d.toLocalDate.toEpochDay))
    case (DateType, d: java.time.LocalDate) => Some(mix64(d.toEpochDay))
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(mix64(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L))
    case (TimestampType, i: java.time.Instant) =>
      Some(mix64(i.getEpochSecond * 1000000L + i.getNano / 1000L))
    case (TimestampNTZType, dt2: java.time.LocalDateTime) =>
      Some(mix64(dt2.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + dt2.getNano / 1000L))
    case (StringType, s: String) =>
      Some(mix64(fnv64(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    case _ => None
  }

  /** Set the K probe bits for `h` in the bit array. */
  def put(bits: Array[Long], h: Long): Unit = {
    val m = bits.length * 64
    val h2 = mix64(h) | 1L
    var i = 0
    while (i < K) {
      val pos = java.lang.Long.remainderUnsigned(h + i * h2, m).toInt
      bits(pos >>> 6) |= (1L << (pos & 63))
      i += 1
    }
  }

  // decoded-filter cache: planning tests one segment-column's bloom
  // against several literals (every In value, every query over the
  // same snapshot) — decode each base64 payload once, not per probe.
  // LRU-bounded ([[DecodeCache]]): blooms are ~1 KB, 10k entries ≈
  // 10 MB, eviction is per-entry rather than wholesale.
  private val decoded = new DecodeCache[Array[Long]](10000)

  def decode(b64: String): Array[Long] = decoded.getOrElseUpdate(b64) {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val bits = new Array[Long](bytes.length / 8)
    var j = 0
    while (j < bits.length) { bits(j) = bb.getLong(); j += 1 }
    bits
  }

  /** Membership probe over a decoded filter. */
  def mightContain(bits: Array[Long], h: Long): Boolean = {
    val m = bits.length * 64
    val h2 = mix64(h) | 1L
    var i = 0
    while (i < K) {
      val pos = java.lang.Long.remainderUnsigned(h + i * h2, m).toInt
      if ((bits(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Membership probe from the manifest's base64 payload (cached). */
  def mightContain(b64: String, h: Long): Boolean = mightContain(decode(b64), h)
}
