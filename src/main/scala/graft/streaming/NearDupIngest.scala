package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Streaming NEAR-dup admission: the online form of MinHash-LSH
  * dedup. Each arriving document claims its LSH band buckets
  * ((band, signature) pairs from [[graft.ops.Dedup.minhashSignatures]]);
  * a document is admitted only if NONE of its buckets were claimed by
  * any earlier-seen document — in accumulated state or earlier in the
  * same micro-batch by a lower doc_id. Claims are made by every seen
  * document, admitted or not, so admission means "novel w.r.t.
  * everything that has flowed past", the transitive policy (if B was
  * rejected as a near-dup of A, a near-dup of B is also rejected even
  * when it shares nothing with A — B's buckets are claimed).
  *
  * That claim-by-all rule is what makes the semantics closed-form:
  * when batches arrive in ascending doc_id order, a document is
  * admitted iff it holds the MINIMUM doc_id in every one of its band
  * buckets over the whole stream — a plain aggregate any engine can
  * check, no recursion over admission history (claim-by-admitted-only
  * would need exactly that, and its answer depends on arrival
  * batching; this one's doesn't).
  *
  * Scale shape: state is (band, 32-hex signature) pairs — ~133 bytes
  * per doc at 4 bands vs the document itself, 3 orders smaller than
  * corpus text. The per-batch work is the batch's signature
  * aggregation (shuffle by doc_id, then by (band, signature)) plus a
  * left-semi probe of batch signatures against state — digest-width
  * keys, AQE broadcasts the batch side. Per-batch overwrite dirs
  * keyed by batchId make retries idempotent, and only state from
  * batches strictly before the current one is read (the same
  * retry-idempotency contract as [[DedupIngest]]). [[DedupIngest
  * .compactState]]'s folding pattern applies to `claimed_N` dirs
  * identically.
  */
object NearDupIngest {

  val stateSchema: StructType = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("signature", StringType, nullable = false)))

  /** LSH bands per document, one (band, signature) claim each. Every
    * producer and consumer of claims — this driver, [[CurationIngest]]
    * and its bootstrap — uses this one value, so every band that state
    * holds claims for is a band the probe checks, and vice versa. */
  val bands: Int = 4

  /** Drain `inDir` with AvailableNow semantics, admitting near-dup-
    * novel documents to `outDir/batch_N`. Input files must partition
    * the stream in ascending doc_id order for the closed-form
    * admission contract (see class doc). Returns micro-batch count. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      outDir: String,
      stateDir: String,
      checkpoint: String): Int = {
    StateDirs.ensure(spark.sparkContext.hadoopConfiguration, stateDir)
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint) { (batch, batchId) =>
      // one materialization (r19): the state probe, the bucket-min
      // aggregate, the in-batch reject join and the claim write each
      // re-ran the shingle+md5 MinHash chain over the batch text —
      // the dominant per-batch compute, paid 4x per trigger
      val sigs = graft.ops.Dedup.minhashSignatures(batch, bands)
        .localCheckpoint()
      val nearDups = rejected(sigs, stateDir, batchId)
      // output and claim writes are independent once sigs is
      // materialized (disjoint batchId-keyed dirs; claims derive
      // from the batch input, so a retry rewrites identical state) —
      // overlap them, guide §2.6, the CurationIngest discipline;
      // the checkpoint commits only after both complete
      Overlap.awaitAll(Seq(
        () => batch.join(nearDups, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId"),
        () => sigs.select(col("band"), col("signature")).distinct()
          .write.mode("overwrite").parquet(s"$stateDir/claimed_$batchId")))
      org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(sigs)
    }
  }

  /** The distinct `doc_id`s of `sigs` (band signatures of one batch)
    * that are near-dups: a bucket claimed in a batch strictly BEFORE
    * `batchId` (retry safety: a failed attempt's own `claimed_N` must
    * not reject its redo), or held in this batch by a lower doc_id. */
  def rejected(sigs: DataFrame, stateDir: String, batchId: Long): DataFrame = {
    val rejectedByState = StateDirs
      .readBefore(sigs.sparkSession, stateDir, "claimed_", stateSchema, batchId)
      .fold(sigs.limit(0).select(col("doc_id")))(claimed =>
        sigs.join(claimed, Seq("band", "signature"), "left_semi").select(col("doc_id")))
    // intra-batch: the lowest doc_id in each bucket claims it
    val bucketMin = sigs.groupBy(col("band"), col("signature"))
      .agg(min(col("doc_id")).as("min_doc"))
    val rejectedInBatch = sigs.join(bucketMin, Seq("band", "signature"))
      .filter(col("min_doc") < col("doc_id")).select(col("doc_id"))
    rejectedByState.union(rejectedInBatch).distinct()
  }

  /** Fold the per-batch claim dirs into one ([[StateDirs.compactPrefix]]
    * — claims are a set, the probe is a semi-join). */
  def compactState(spark: SparkSession, stateDir: String): Int =
    StateDirs.compactPrefix(spark, stateDir, "claimed_", stateSchema)
}
