package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for the IVF-PQ index — the production contract for ANN
  * at scale: the index is trained ONCE, stored as plain parquet tables,
  * and every query session reloads those tables instead of re-running
  * Lloyd training (which dominates the in-memory query path's cost;
  * see docs/BENCH_NOTES.md on emb_ivfpq_topk).
  *
  * Four frames make a complete search state:
  *   - `assignments/`  (vec_id, centroid_id)   — IVF posting lists
  *   - `centroids/`    (centroid_id, centroid) — the routing table
  *   - `codes/`        (vec_id, m, code)       — PQ codes, M bytes/vector
  *   - `codebooks/`    (m, code, centroid)     — PQ reconstruction table
  *
  * The raw embeddings are deliberately NOT part of the index: the
  * assignment frame is (id, bucket) only, so the stored index is ~1% of
  * corpus bytes (codes are M smallints vs D floats) and the ADC probe
  * never touches the corpus table. Everything is float-quantized by the
  * trainers, and parquet stores floats exactly, so a reloaded index
  * answers bit-identically to the in-memory one — `store_ann_roundtrip`
  * certifies that against the SAME oracle as `emb_ivfpq_topk`.
  *
  * On a cluster the writes take any Hadoop-FS URI (object storage); the
  * centroid/codebook frames are broadcast-sized by construction (k and
  * M·k rows), the assignment/code frames partition by vec_id.
  */
object AnnIndex {

  /** Train IVF routing + PQ codes over `corpus` and persist the four
    * index frames under `dir`. One pass of each trainer — the
    * assignments and codes are written from the SAME plans the
    * in-memory path queries, so store-then-probe ≡ probe. */
  def writeIvfPq(corpus: DataFrame, dir: String,
                 kIvf: Int, nSub: Int, dsub: Int, kPq: Int,
                 iters: Int = 2): Unit = {
    val (assigned, cents) = Ivf.index(corpus, kIvf, iters)
    val (codes, books) = Pq.encode(corpus, nSub, dsub, kPq, iters)
    assigned.select(col("vec_id"), col("centroid_id"))
      .write.mode("overwrite").parquet(s"$dir/assignments")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    books.write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Incremental index maintenance — the ingest path of a live ANN
    * service: assign and encode `additions` against the FROZEN routing
    * and codebook tables and append their posting/code rows. No
    * retraining: centroids and codebooks are read-only here, so the
    * append touches ~bytes ∝ additions while the existing index rows
    * are never rewritten (at 100 TB a retrain is a scheduled rebuild,
    * not an ingest operation — drift between frozen centroids and new
    * data distribution is the documented trade, exactly as in FAISS's
    * `add` vs `train` split). store_ann_incremental certifies that
    * appended vectors are routed, encoded, and ADC-scored identically
    * to base vectors under the same frozen tables. */
  def appendVectors(spark: SparkSession, dir: String, additions: DataFrame,
                    nSub: Int, dsub: Int): Unit = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val books = spark.read.parquet(s"$dir/codebooks")
    Ivf.assign(additions, cents).select(col("vec_id"), col("centroid_id"))
      .write.mode("append").parquet(s"$dir/assignments")
    Pq.assignCodes(Pq.subVectors(additions, nSub, dsub), books)
      .select(col("vec_id"), col("m"), col("code"))
      .write.mode("append").parquet(s"$dir/codes")
  }

  /** Right-to-be-forgotten on a live index (FAISS `remove_ids`, the
    * erasure half of [[appendVectors]]): physically delete the
    * posting and code rows of `ids` — an anti-join rewrite of the two
    * per-vector tables, materialized before the overwrite because the
    * plan reads the very dirs it replaces. The routing and codebook
    * tables are untouched: they are AGGREGATE training artifacts, not
    * per-row data; erasing a vector's residual influence on them is a
    * scheduled retrain, the same documented trade as frozen-routing
    * appends. After removal the deleted ids can never be candidates
    * (posting rows gone) nor scored (code rows gone). */
  def removeVectors(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val gone = ids.select(col("vec_id"))
    Seq("assignments", "codes").foreach { sub =>
      val kept = Lineage.cut(spark.read.parquet(s"$dir/$sub")
        .join(gone, Seq("vec_id"), "left_anti"))
      kept.write.mode("overwrite").parquet(s"$dir/$sub")
      Lineage.free(kept)
    }
  }

  /** IVF-PQ top-k served entirely from a stored index: route queries
    * with the persisted centroids (nprobe buckets), gather candidates
    * from the persisted posting lists, score with ADC over the
    * persisted codes/codebooks. The corpus table is never read. */
  def ivfPqTopK(spark: SparkSession, dir: String, queries: DataFrame,
                nSub: Int, dsub: Int, topK: Int, nprobe: Int = 2): DataFrame = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val assigned = spark.read.parquet(s"$dir/assignments")
    val codes = spark.read.parquet(s"$dir/codes")
    val books = spark.read.parquet(s"$dir/codebooks")
    val cands = Ivf.route(cents, queries, nprobe)
      .join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    Pq.adcTopKWithin(cands, codes, books, queries, nSub, dsub, topK)
  }
}
