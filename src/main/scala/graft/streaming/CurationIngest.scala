package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming incremental curation: [[graft.ops.Curation]]'s recipe as
  * a continuously-fed admission pipeline — each micro-batch runs
  * quality filter → exact-dedup admission → LSH near-dup admission in
  * one `foreachBatch`, against state accumulated across the stream.
  *
  * Differences from the batch pipeline, and why:
  *  - The quality threshold is a FIXED score (`minScore`), not the
  *    corpus-histogram fraction: an online filter cannot see the
  *    final corpus distribution, so production streams run a
  *    calibrated constant (or a model score — [[graft.ops.Classifier]])
  *    and recalibrate out of band.
  *  - Split routing and decontamination are optional (`split`,
  *    `benchGrams`): a benchmark set is a static artifact, so
  *    decontamination is one anti-join of each batch against its
  *    precomputed gram set and adds no state.
  *
  * The admission stages are the standalone drivers' own steps:
  * [[DedupIngest.fresh]] for exact dedup and [[NearDupIngest.rejected]]
  * for near-dup rejection, over one shared `stateDir`.
  *
  * Admission is closed-form despite the statefulness (the
  * [[NearDupIngest]] discipline): with input files in ascending
  * doc_id order, a document is admitted iff
  *   (a) its quality score ≥ `minScore`,
  *   (b) its doc_id is the minimum among quality-passing docs with
  *       its exact content digest, and
  *   (c) for EVERY LSH band, its doc_id is the minimum among
  *       exact-admission survivors claiming that (band, signature)
  *       bucket
  * — three plain aggregates over the whole corpus, which is exactly
  * what the DuckDB oracle replays. Digest claims are written by
  * exact-stage survivors and bucket claims by all of them (admitted
  * to output or not), which is what keeps (b) and (c) independent of
  * how the stream was batched.
  *
  * Scale/retry shape: both state tables are digest-width (32-hex md5
  * rows; (band, signature) pairs) — orders of magnitude smaller than
  * text, shuffled as equi-joins that AQE broadcasts when the batch
  * side is small. All writes are per-batch overwrite dirs keyed by
  * batchId, state reads see only batches strictly before their own
  * (a retried batch ignores its failed attempt), and discovery runs
  * through the path's Hadoop FileSystem ([[StateDirs]]) so HDFS/S3
  * behave like local disk.
  */
object CurationIngest {

  /** The fixed quality threshold: a document is admitted only if its
    * [[graft.ops.TextOps.qualityScores]] score is at least this. The
    * stream and [[bootstrapState]] share it, so a seeded state is the
    * one the stream would have built. */
  val minScore: Int = 2

  /** The shingle size of the benchmark-gram artifact `benchGrams`
    * passed to [[run]]. */
  val decontamN: Int = 5

  /** Drain `inDir` with AvailableNow semantics, writing admitted docs
    * to `outDir/batch_N`. Returns the micro-batch count.
    *
    * `split` = (trainFrac, salt) routes only the train side of the
    * deterministic md5 split through curation (the benchmark side is
    * someone else's artifact — a stream must never admit it);
    * `benchGrams` is that artifact's precomputed `decontamN`-gram set
    * (column `shingle`), anti-joined per batch — a STATIC frame, so
    * decontamination adds no state, just one digest-width equi-join
    * per batch. With both set, the driver is the full batch recipe
    * ([[graft.ops.Curation]]) running incrementally. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      outDir: String,
      stateDir: String,
      checkpoint: String,
      split: Option[(Double, String)] = None,
      benchGrams: Option[DataFrame] = None): Int = {
    StateDirs.ensure(spark.sparkContext.hadoopConfiguration, stateDir)
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint) { (batch, batchId) =>
      // stage 0: route only the train side through curation
      // (map-only deterministic hash predicate, no lookup)
      val routed = split match {
        case Some((frac, salt)) => batch.filter(
          graft.ops.Sampling.bucketHash(col("doc_id"), salt) <
            lit(graft.ops.Sampling.hexThreshold(frac)))
        case None => batch
      }
      // stage 1: fixed-threshold quality gate (stateless, map-only),
      // then stage 2: exact-dedup admission against digests from
      // batches strictly before. One materialization: three consumers
      // below (sigs, output, state) must not re-run the quality+digest
      // chain each
      val exactFresh = DedupIngest.fresh(qualityPass(routed), stateDir, batchId)
        .localCheckpoint()

      // stage 3: near-dup admission over exact survivors. One
      // materialization (r19): FOUR consumers below (state probe,
      // bucket-min aggregate, in-batch reject join, claim write)
      // each re-ran the shingle+md5 MinHash chain over the batch
      // text — the dominant per-batch compute, paid 4x per trigger.
      val sigs = graft.ops.Dedup.minhashSignatures(exactFresh, NearDupIngest.bands)
        .localCheckpoint()
      val admitted0 = exactFresh.drop("content_hash")
        .join(NearDupIngest.rejected(sigs, stateDir, batchId), Seq("doc_id"), "left_anti")
      // stage 4: benchmark decontamination — static gram artifact,
      // one stateless equi-join per batch. When the branch is taken,
      // `admitted` feeds BOTH the contamination probe and the final
      // anti-join — cut it once so the reject-union chain is not
      // re-run per consumer (r19, same reasoning as `sigs` above).
      val admitted = benchGrams match {
        case Some(_) => admitted0.localCheckpoint()
        case None => admitted0
      }
      val clean = benchGrams match {
        case Some(bg) =>
          val contaminated = graft.ops.TextOps
            .shinglePostings(admitted, decontamN)
            .join(bg.select(col("shingle")), Seq("shingle"), "left_semi")
            .select(col("doc_id")).distinct()
          admitted.join(contaminated, Seq("doc_id"), "left_anti")
        case None => admitted
      }
      // the three writes (output, seen-digest state, bucket-claim
      // state) are mutually independent once exactFresh and sigs are
      // materialized — each reads only checkpointed blocks and writes
      // its own batchId-keyed overwrite dir. Overlap them (guide
      // §2.6, as SegmentStateIngest.runBucketed does): serially each
      // write is its own scheduler round-trip per batch. The retry
      // contract is untouched — state reads are strictly-before-
      // batchId and the stream checkpoint commits only after ALL
      // three complete (Await below); claims derive from the batch
      // input, so a retry rewrites byte-identical state.
      Overlap.awaitAll(Seq(
        () => clean.write.mode("overwrite").parquet(s"$outDir/batch_$batchId"),
        () => exactFresh.select(col("content_hash")).distinct()
          .write.mode("overwrite").parquet(s"$stateDir/seen_$batchId"),
        () => sigs.select(col("band"), col("signature")).distinct()
          .write.mode("overwrite").parquet(s"$stateDir/claimed_$batchId")))
      if (benchGrams.isDefined)
        org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(admitted)
      org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(sigs)
      org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(exactFresh)
    }
  }

  /** Fold both state families' per-batch dirs into one each — after N
    * batches the probe unions N small dirs and listing overhead
    * dominates the digest-width data. Run between [[run]] invocations. */
  def compactState(spark: SparkSession, stateDir: String): Int =
    StateDirs.compactPrefix(spark, stateDir, "seen_", DedupIngest.stateSchema) +
      StateDirs.compactPrefix(spark, stateDir, "claimed_", NearDupIngest.stateSchema)

  /** Backfill → streaming cutover: seed `stateDir` with exactly the
    * state an equivalent stream would have accumulated having already
    * seen `corpus` — the offline-built corpus keeps priority, and the
    * stream continues incrementally from it (the operational handoff
    * every "we curate nightly, now make it continuous" migration
    * needs). Seen digests = distinct content digests of
    * quality-passing docs; bucket claims = their band signatures
    * (signatures are a function of text alone, so WHICH duplicate
    * represents a content group cannot matter). Writes `seen_-1` /
    * `claimed_-1`: state reads are strictly-before-batchId, and the
    * first micro-batch is batchId 0 — a seed keyed 0 would be both
    * invisible to it and clobbered by it. ([[StateDirs.compactPrefix]]
    * folds into the MINIMUM key for the same reason.) */
  def bootstrapState(
      spark: SparkSession,
      stateDir: String,
      corpus: DataFrame): Unit = {
    StateDirs.ensure(spark.sparkContext.hadoopConfiguration, stateDir)
    val exact = DedupIngest.firstPerDigest(qualityPass(corpus)).localCheckpoint()
    // both state writes read only the checkpointed `exact` blocks and
    // go to disjoint dirs — overlap them (guide §2.6)
    Overlap.awaitAll(Seq(
      () => exact.select(col("content_hash")).distinct()
        .write.mode("overwrite").parquet(s"$stateDir/seen_-1"),
      () => graft.ops.Dedup.minhashSignatures(exact, NearDupIngest.bands)
        .select(col("band"), col("signature")).distinct()
        .write.mode("overwrite").parquet(s"$stateDir/claimed_-1")))
    org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(exact)
  }

  /** The docs whose quality score reaches [[minScore]]. */
  private def qualityPass(docs: DataFrame): DataFrame =
    docs.join(
      graft.ops.TextOps.qualityScores(docs)
        .filter(col("quality_score") >= minScore).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
}
