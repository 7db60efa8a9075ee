package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Banded Hamming-distance pairing over 64-bit signatures — the shared
  * candidate-generation mechanism behind text SimHash pairing
  * ([[Simhash.hammingPairs]]) and image perceptual-hash pairing
  * ([[graft.multimodal.Phash.pairs]]).
  *
  * The 64-bit signature splits into 4×16-bit chunks and candidate pairs
  * come from an equi-join on (chunk_idx, chunk). By pigeonhole a pair
  * within Hamming distance 3 has its ≤3 differing bits in ≤3 chunks, so
  * it agrees on ≥1 chunk — for maxHamming ≤ 3 recall is COMPLETE and
  * the result equals brute-force all-pairs (exactly how the DuckDB
  * oracle cross-checks both callers). At scale the chunk equi-join
  * shuffles 8-byte keys and buckets the corpus; the all-pairs
  * comparison never materializes.
  */
object Hamming {

  /** Hamming distance between two 64-bit signature columns. */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bit_count(a.bitwiseXOR(b))

  /** Pairs `(<prefix>_a, <prefix>_b, hamming)` with `hamming <=
    * maxHamming`, from a `(idCol, sigCol)` signature frame. Complete
    * recall requires `maxHamming <= 3` (4-chunk pigeonhole). */
  def bandedPairs(
      sig: DataFrame,
      idCol: String,
      sigCol: String,
      prefix: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming > 3 breaks the 4-chunk pigeonhole recall guarantee")
    // materialize the signature frame ONCE (eager Lineage.cut —
    // the jaccardPairs postings discipline): both sides of the banded
    // self-join otherwise re-run the caller's signature computation,
    // which for the multimodal callers is a full image/audio
    // decode+hash pass (measured on mm_phash_pairs/mm_audio_dup_pairs:
    // source records read 2×N → 1×N). The frame is (id, 64-bit sig) —
    // a few bytes per row at any scale
    val sigc = Lineage.cut(sig.select(col(idCol), col(sigCol)))
    val chunks = sigc.select(col(idCol), col(sigCol),
      explode(array((0 until 4).map(ci => struct(
        lit(ci).as("chunk_idx"),
        shiftrightunsigned(col(sigCol), ci * 16).bitwiseAND(lit(0xFFFFL)).as("chunk"))): _*)).as("c"))
      .select(col(idCol), col(sigCol),
        col("c.chunk_idx").as("chunk_idx"), col("c.chunk").as("chunk"))
    val a = chunks.select(col("chunk_idx"), col("chunk"),
      col(idCol).as(s"${prefix}_a"), col(sigCol).as("sig_a"))
    val b = chunks.select(col("chunk_idx"), col("chunk"),
      col(idCol).as(s"${prefix}_b"), col(sigCol).as("sig_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col(s"${prefix}_a") < col(s"${prefix}_b"))
      .select(col(s"${prefix}_a"), col(s"${prefix}_b"),
        hamming(col("sig_a"), col("sig_b")).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
