package graft.sources.segment

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}

/** Per-segment DELETION VECTORS — merge-on-read row-level deletes,
  * the Delta/Iceberg-v3 shape: a DELETE whose predicate does not
  * decide whole segments marks the matched PHYSICAL ROW POSITIONS in
  * a small sidecar bitmap instead of rewriting the segment. At 100 TB
  * this is the difference between a GDPR erasure touching kilobytes
  * of bitmaps and one rewriting terabytes of row data: write cost ∝
  * deleted-row count, read cost ∝ one bitmap probe per row in DV'd
  * segments only, and compaction (or any copy-on-write rewrite that
  * touches the segment) materializes the vector away.
  *
  * Semantics and soundness:
  *  - positions are PHYSICAL ordinals in the segment file (the
  *    `_pos` metadata column), so vectors stay aligned no matter how
  *    many earlier deletes already hide rows;
  *  - zone maps and blooms remain one-sided over the SUPERSET of live
  *    rows — pruning and metadata-only DELETE decisions stay sound;
  *  - exact metadata answers that deleted rows could distort
  *    (COUNT(col), MIN/MAX, top-N planning) either account for
  *    `dvRows` or refuse ([[GraftScanBuilder]]);
  *  - a DV commit is a DATA-CHANGING truncate (rows disappeared):
  *    running streams fail fast, the change feed emits the newly
  *    deleted rows as a bitmap DELTA (new ∖ old), and time travel
  *    serves each version with the vector it committed.
  *
  * File format: `[rows deleted: long][words: int][bitset longs]`,
  * committed under `data/` like segments (invisible until a manifest
  * references it; [[SegmentLog.vacuum]] protects referenced vectors).
  * A bitmap over a million-row segment is ~128 KB; decoded vectors
  * are cached like blooms ([[SegmentBloom.decode]]'s discipline).
  */
object DeletionVector {

  /** Bitmap from physical positions (any order). */
  def fromPositions(positions: Seq[Long]): Array[Long] = {
    if (positions.isEmpty) return Array.empty
    val max = positions.max
    require(positions.forall(_ >= 0) && max < Int.MaxValue.toLong * 64,
      s"position out of range (max $max)")
    val bits = new Array[Long]((max >>> 6).toInt + 1)
    positions.foreach { p => bits((p >>> 6).toInt) |= (1L << (p & 63)) }
    bits
  }

  /** OR of two bitmaps (a second DELETE unions with the first). */
  def union(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](math.max(a.length, b.length))
    System.arraycopy(a, 0, out, 0, a.length)
    var i = 0
    while (i < b.length) { out(i) |= b(i); i += 1 }
    out
  }

  /** Does `a` carry any bit NOT in `b` (a ∖ b ≠ ∅)? The change feed's
    * exact delta-direction probe: sound for ANY pair of vectors —
    * cardinality comparisons are not, because a double rollback can
    * restore a vector DISJOINT from the current one. */
  def diffNonEmpty(a: Array[Long], b: Array[Long]): Boolean = {
    var i = 0
    while (i < a.length) {
      val bw = if (i < b.length) b(i) else 0L
      if ((a(i) & ~bw) != 0L) return true
      i += 1
    }
    false
  }

  def contains(bits: Array[Long], pos: Long): Boolean = {
    val w = (pos >>> 6).toInt
    w < bits.length && (bits(w) & (1L << (pos & 63))) != 0L
  }

  def cardinality(bits: Array[Long]): Long =
    bits.foldLeft(0L)((acc, w) => acc + java.lang.Long.bitCount(w))

  def write(fs: FileSystem, path: Path, bits: Array[Long]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(fs.create(path, false), 1 << 16))
    try {
      out.writeLong(cardinality(bits))
      out.writeInt(bits.length)
      bits.foreach(out.writeLong)
    } finally out.close()
  }

  /** Union `bits` with a segment's `prior` vector (a manifest-recorded
    * path, None = no vector yet) and write the result as a fresh
    * sidecar under the table's `data/` — copy-on-write, so older
    * versions keep their vector. The file is unreferenced until a
    * commit names it: an abort or lost race leaves vacuum fodder, never
    * data. A union that kills all `rows` of the segment is not written:
    * the commit drops that segment, so the returned path names no file.
    * Returns (root-relative sidecar path, cumulative dead rows). */
  def writeUnion(fs: FileSystem, root: String, prior: Option[String],
      bits: Array[Long], rows: Long): (String, Long) = {
    val all = prior.map(p => union(read(fs, new Path(SegmentLog.abs(root, p))), bits))
      .getOrElse(bits)
    val rel = s"${SegmentLog.DataDir}/${java.util.UUID.randomUUID()}.dv"
    val n = cardinality(all)
    if (n < rows) DeletionVector.write(fs, new Path(s"$root/$rel"), all)
    (rel, n)
  }

  // decoded-vector cache: every task reading a DV'd segment (and every
  // query over the same snapshot) probes the same bitmap — decode each
  // file once per JVM. LRU-bounded ([[DecodeCache]]): ~128 KB × 1k
  // entries ≈ 128 MB worst case, typical far less, and a scan over
  // cap+1 segments evicts one entry, not the whole working set.
  private val decoded = new DecodeCache[Array[Long]](1000)

  def read(fs: FileSystem, path: Path): Array[Long] =
    decoded.getOrElseUpdate(path.toString) {
      val in = new DataInputStream(new BufferedInputStream(fs.open(path), 1 << 16))
      try {
        in.readLong() // cardinality header (readable without the bitmap)
        val words = in.readInt()
        val b = new Array[Long](words)
        var i = 0
        while (i < words) { b(i) = in.readLong(); i += 1 }
        b
      } finally in.close()
    }
}
