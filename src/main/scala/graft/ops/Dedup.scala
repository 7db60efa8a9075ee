package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard near-dup, MinHash-LSH banding.
  * (SimHash lives in Simhash.scala as a typed Aggregator.)
  *
  * Scale design (100 TB):
  *  - Exact dedup groups on a 128-bit content hash, never on the raw
  *    text — the shuffle moves 32-byte keys, not documents.
  *  - Near-dup NEVER does an all-pairs cross join. Candidate pairs come
  *    from an equi-join on shared shingles (or MinHash band buckets),
  *    so the join key prunes the pair space to documents that share
  *    content. With b bands of r-min signatures, a pair colliding in ≥1
  *    band is found with prob 1-(1-s^r)^b — the knob that trades recall
  *    for candidate volume.
  *  - Band signatures use lexicographic min over md5 hex — deterministic,
  *    engine-neutral (no Murmur seed dependence), and oracle-checkable.
  */
object Dedup {

  /** Exact dedup groups: md5(text) → keeper (min doc_id) + multiplicity.
    * `SELECT ... GROUP BY hash` keeps the shuffle key narrow. */
  def exactDedupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Incremental ingest dedup: of an arriving batch, the docs whose
    * exact content has NOT been seen in the historical corpus — the
    * op a continuously-fed training pipeline runs on every delivery.
    * Within-batch duplicates also collapse to their keeper (min
    * doc_id), so the output is insert-ready. Scale shape: history
    * reduces to its distinct 32-byte digests BEFORE the anti-join
    * (at 100 TB the digest set is the thing you'd persist as the
    * "seen" state table, not the corpus), and the join shuffles
    * digests only. */
  def incrementalNew(batch: DataFrame, history: DataFrame): DataFrame = {
    val seen = history.select(md5(col("text")).as("content_hash")).distinct()
    batch
      .withColumn("content_hash", md5(col("text")))
      .join(seen, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
  }

  /** Distinct (doc_id, shingle) pairs — the posting list the candidate
    * join runs on. Tokens are materialized and the corpus repartitioned
    * before the generator (TextOps.withTokens) so the explode
    * parallelizes and shingle assembly stays O(n) per doc. */
  def shingleSets(docs: DataFrame): DataFrame =
    TextOps.shinglePostings(docs).distinct()

  /** Prefix-filtered set-similarity join (the AllPairs/PPJoin family,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08) — threshold Jaccard
    * pairs WITHOUT a df cap and without the full posting self-join:
    * order every document's shingles by global rarity (df asc, shingle
    * asc), keep only each document's first |S| − ⌈t·|S|⌉ + 1 shingles
    * (its PREFIX), and equi-join prefixes. Two sets with Jaccard ≥ t
    * overlap in ≥ ⌈t·max(|a|,|b|)⌉ elements, so disjoint prefixes
    * would leave too few non-prefix slots to host the overlap —
    * candidate recall is COMPLETE by pigeonhole, which the brute-force
    * oracle certifies as data (dedup_prefix_pairs ≡ all exact pairs).
    *
    * Scale: rare-first ordering makes prefixes the LEAST collision-
    * prone shingles, so the candidate join shuffles a sliver of the
    * postings (the higher t, the shorter the prefix — at t=0.6 it is
    * ~40% of postings, at t=0.9 ~10%); verification then touches only
    * candidate pairs' postings, cost ∝ candidates × set size. This
    * replaces [[jaccardPairs]]'s df-cap heuristic with an exact filter
    * when completeness at a threshold is required (dedup DECISIONS
    * rather than top-N exploration). All-integer until the final
    * Jaccard division; ⌈t·|S|⌉ is the same IEEE product+ceil in both
    * engines. */
  def prefixFilteredPairs(docs: DataFrame, t: Double): DataFrame = {
    val posts = Lineage.cut(shingleSets(docs))
    val df = posts.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val sizes = posts.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val pref = posts.join(df, Seq("shingle"))
      .withColumn("rk", row_number().over(w))
      .join(sizes, Seq("doc_id"))
      .filter(col("rk") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("doc_id"), col("shingle"))
    val cand = pref.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(pref.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val inter = cand
      .join(posts.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(posts.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("za")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("zb")), Seq("doc_b"))
      .filter(col("inter").cast("double") / (col("za") + col("zb") - col("inter")) >= t)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("za") + col("zb") - col("inter")), 4)
          .as("jaccard"))
  }

  /** n-gram Jaccard near-dup candidates: equi-join postings on shingle,
    * count common shingles per pair, Jaccard = |∩| / |∪|. Top-n pairs by
    * similarity (deterministic tiebreak).
    *
    * Two scale guards:
    *  - document-frequency cap: a stop-shingle present in n documents
    *    would emit n²/2 candidate pairs; postings whose shingle exceeds
    *    `maxDf` are dropped BEFORE the self-join (standard practice —
    *    boilerplate shingles carry no near-dup signal anyway). Jaccard
    *    is then computed consistently over the capped shingle sets.
    *    The cap is an aggregate per shingle (a TINY result — one row per
    *    distinct shingle under the cap) left-semi-joined back onto the
    *    postings: no window sort of the full posting list, no persist,
    *    and AQE stays free to re-plan the self-join (a window+persist
    *    variant measured 11× slower at sf0.1 and its persist would be a
    *    cluster-memory bomb at 100 TB).
    */
  def jaccardPairs(docs: DataFrame, topN: Int, maxDf: Int = 100): DataFrame = {
    // materialize the postings ONCE (eager Lineage.cut — the repo's
    // exchange-reuse discipline, see TextOps.shardAssignments): the
    // df-cap aggregate and the capped posting join both read the
    // materialized blocks instead of each re-running tokenize+explode,
    // which at 100 TB is this operator's dominant cost
    val posts = Lineage.cut(shingleSets(docs))
    val rare = posts
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("shingle"))
    val sh = posts.join(rare, Seq("shingle"), "left_semi")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val common = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id"), col("n_shingles").as("na")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_shingles").as("nb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .select(
        col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(topN)
  }

  /** Per-document similar-document retrieval: each doc's top-k
    * neighbors by shared df-capped shingle count — the RETRIEVAL
    * flavor of the pair family (threshold pairs answer "is this a
    * dup?"; this answers "what is this most like?", the shape a
    * dedup-review or contamination-investigation UI needs).
    *
    * Same posting-list candidate generation as [[jaccardPairs]]
    * (materialized once, df-capped, equi-join on shingle — never
    * all-pairs), but per-doc selection runs through
    * [[graft.functions.BoundedTopK]]: the k-bounded PARTIAL aggregate
    * shuffles #docs × k rows where a row_number window would move the
    * whole candidate-pair frame. Integer overlap counts, (count DESC,
    * doc_id) total order — cross-engine deterministic with no
    * quantization. */
  def similarDocsTopK(docs: DataFrame, k: Int, maxDf: Int = 100): DataFrame = {
    val posts = Lineage.cut(shingleSets(docs))
    val rare = posts
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("shingle"))
    val sh = posts.join(rare, Seq("shingle"), "left_semi")
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_a"),
        struct(negate(col("n_shared")).as("ns"), col("doc_b").as("d")).as("cand"))
      .groupBy(col("doc_a"))
      .agg(graft.functions.TopK.topKSmallest(col("cand"), k).as("tk"))
      .select(col("doc_a").as("doc_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("doc_id"), col("e.d").as("similar_doc_id"),
        negate(col("e.ns")).as("n_shared"), (col("pos") + 1).as("rank"))
  }

  /** Asymmetric shingle containment: C(a→b) = |Sa ∩ Sb| / |Sa| — the
    * doc-inside-doc detector Jaccard misses. When a short document is
    * wholly quoted inside a long one (boilerplate headers, licence
    * blocks, re-posted articles with commentary), the union is large so
    * Jaccard stays low, but the SHORT side's containment is ~1. Emits
    * DIRECTED pairs (doc_a's shingles covered by doc_b) at containment
    * ≥ minC.
    *
    * Same scale shape as [[jaccardPairs]]: df-capped postings (tiny
    * aggregate + left-semi join, no window), candidates from the
    * posting-list equi-join — never all-pairs; the denominator joins a
    * per-doc count, and only doc_a's size is needed so the asymmetry
    * costs one join, not two. */
  def containmentPairs(docs: DataFrame, minC: Double, maxDf: Int = 100): DataFrame = {
    // postings materialized once — same reasoning as [[jaccardPairs]]
    val posts = Lineage.cut(shingleSets(docs))
    val rare = posts
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("shingle"))
    val sh = posts.join(rare, Seq("shingle"), "left_semi")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("na")), Seq("doc_a"))
      .filter(col("n_common").cast("double") / col("na") >= minC)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") / col("na"), 4).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash band signatures: ONE md5 per shingle; band b's hash is a
    * fixed 8-hex-char rotation of the 32-hex digest, so each band orders
    * shingles by an independent-ish bit window of the same digest and
    * the signature is the min rotated digest over the doc's shingles.
    *
    * Computed in the FLAT posting-list shape: explode shingles, md5 once
    * per posting, explode bands, rotate (cheap string slice), min-
    * aggregate per (doc, band). Everything stays inside whole-stage
    * codegen with map-side partial min — the nested HOF formulation
    * (array_min over a lambda, per band column) drops out of codegen and
    * cost ~70× more wall-clock at sf0.1, and hashing per (shingle, band)
    * costs `bands`× the digest work for no extra signal. At 100 TB the
    * posting list is also the right shuffle unit: 32-byte keys, never
    * whole documents. */
  def minhashSignatures(docs: DataFrame, bands: Int = 4): DataFrame = {
    val rotated = concat(
      col("h").substr(col("band") * 8 + 1, lit(32) - col("band") * 8),
      col("h").substr(lit(1), col("band") * 8))
    TextOps.shinglePostings(docs)
      .select(col("doc_id"), md5(col("shingle")).as("h"))
      .select(col("doc_id"), col("h"),
        explode(array((0 until bands).map(lit): _*)).as("band"))
      .groupBy(col("doc_id"), col("band"))
      .agg(min(rotated).as("signature"))
  }

  /** Embedding-cosine near-dup: candidate pairs from the sign-bit LSH
    * bucket join (never all-pairs), scored with the fused native cosine
    * expression, top-n by similarity. At scale the bucket equi-join
    * partitions the corpus; the 1/2^bits candidate fraction is the
    * recall/cost knob (IVF centroids would replace sign buckets with
    * the same join shape). */
  def embeddingNearDups(embeddings: DataFrame, topN: Int, bits: Int = 4): DataFrame = {
    val withBucket = embeddings
      .select(col("vec_id"), col("embedding"),
        Similarity.signBucket(col("embedding"), bits).as("bucket"))
    val a = withBucket.select(
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("bucket"))
    val b = withBucket.select(
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.VectorExpressions.cosineNative(col("emb_a"), col("emb_b")), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
      .limit(topN)
  }

  /** LSH bucket histogram: (band, signature) → bucket size. Docs sharing
    * a (band, signature) land in the same LSH bucket — the bucket join
    * replaces the all-pairs comparison at scale. Emitting all buckets
    * (not just n_docs > 1) keeps the query deterministic on dup-free
    * corpora too. */
  def minhashBuckets(docs: DataFrame, bands: Int = 4): DataFrame =
    minhashSignatures(docs, bands)
      .groupBy(col("band"), col("signature"))
      .agg(count(lit(1)).as("n_docs"))

  /** The canonical two-stage MinHash dedup pipeline: LSH band buckets
    * GENERATE candidate pairs (docs sharing any (band, signature)
    * bucket), exact n-gram Jaccard over the full shingle sets VERIFIES
    * them — LSH recall, exact precision. Degenerate buckets (boilerplate
    * collisions) are dropped above `maxBucket` members before pairing,
    * the same n²-guard as jaccardPairs' DF cap and implemented the same
    * way (tiny aggregate, left-semi join — no window, no persist). At
    * scale the verify join touches only candidate pairs' shingles, a
    * vanishing fraction of the corpus. */
  def minhashVerifiedPairs(
      docs: DataFrame, topN: Int, bands: Int = 4, maxBucket: Int = 50): DataFrame = {
    // signatures and shingle postings each materialized ONCE (the
    // jaccardPairs discipline): sigs feed the cap aggregate and both
    // sides of the bucket self-join, sh feeds the size aggregate and
    // both sides of the verification join — without the cuts each
    // consumer re-runs tokenize(+md5) over the corpus
    val sigs = Lineage.cut(minhashSignatures(docs, bands))
    val ok = sigs.groupBy(col("band"), col("signature"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucket)
      .select(col("band"), col("signature"))
    val bucketed = sigs.join(ok, Seq("band", "signature"), "left_semi")
    val cand = bucketed.select(col("band"), col("signature"), col("doc_id").as("doc_a"))
      .join(bucketed.select(col("band"), col("signature"), col("doc_id").as("doc_b")),
        Seq("band", "signature"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val sh = Lineage.cut(shingleSets(docs))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val common = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id"), col("n_shingles").as("na")), col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_shingles").as("nb")), col("doc_b") === col("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")), 4)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(topN)
  }

  /** LSH recall certified as DATA: the fraction of TRUE Jaccard-≥t
    * pairs that the banded-minhash candidate stage captures, under the
    * SAME bucket cap production runs. Truth is COMPLETE — the prefix-
    * filtered exact join ([[prefixFilteredPairs]], pigeonhole-complete
    * at threshold t) — so the ratio is a real recall, not a sampled
    * estimate. This is [[graft.ops.Similarity]]'s emb_ann_recall
    * discipline applied to the text side: the banding parameter stops
    * being folklore once the oracle re-derives the number. One row:
    * (n_true, n_captured, recall); both counts are tiny aggregates, so
    * the final crossJoin broadcasts two 1-row frames. */
  def minhashRecall(
      docs: DataFrame, t: Double, bands: Int = 4, maxBucket: Int = 50,
      truth: Option[DataFrame] = None): DataFrame = {
    // callers holding a persisted truth frame (the artifact discipline)
    // pass it in; standalone use derives it from the corpus
    val truthPairs = truth.getOrElse(prefixFilteredPairs(docs, t))
      .select(col("doc_a"), col("doc_b"))
    // one signature pass shared by the cap aggregate and both
    // self-join sides (the jaccardPairs discipline)
    val sigs = Lineage.cut(minhashSignatures(docs, bands))
    val ok = sigs.groupBy(col("band"), col("signature"))
      .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucket)
      .select(col("band"), col("signature"))
    val bucketed = sigs.join(ok, Seq("band", "signature"), "left_semi")
    val cand = bucketed.select(col("band"), col("signature"), col("doc_id").as("doc_a"))
      .join(bucketed.select(col("band"), col("signature"), col("doc_id").as("doc_b")),
        Seq("band", "signature"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val captured = truthPairs.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    truthPairs.agg(count(lit(1)).as("n_true"))
      .crossJoin(captured.agg(count(lit(1)).as("n_captured")))
      .select(col("n_true"), col("n_captured"),
        round(col("n_captured").cast("double") / col("n_true"), 4).as("recall"))
  }

  /** The banding S-curve as certified data: for each band count, the
    * candidate volume (the COST axis) next to recall against the same
    * exact truth (the QUALITY axis) — the table an engineer reads
    * before picking the production knob, instead of trusting the
    * 1-(1-s^r)^b formula sight unseen. Shares [[minhashRecall]]'s
    * internals per arm; band counts are bounded by the md5 rotation
    * width (≤ 4 with 8-hex-char bands). `recall` is SQL NULL when the
    * truth set is empty (a dup-free corpus has no denominator — the
    * divide-by-zero contract, JSON-safe where NaN is not). */
  def bandingTradeoff(
      docs: DataFrame, t: Double, bandCounts: Seq[Int], maxBucket: Int = 50,
      truth: Option[DataFrame] = None): DataFrame = {
    require(bandCounts.nonEmpty && bandCounts.forall(b => b >= 1 && b <= 4),
      "band counts must be within the rotation width (1..4)")
    // pair-distinct the truth (idempotent for the prefix-filter
    // default): the conditional aggregate below counts JOINED rows,
    // so a caller-supplied truth frame holding a pair k times would
    // otherwise inflate both axes k-fold. One consumer only after the
    // single-pass rewrite — no persist needed
    val truthPairs = truth.getOrElse(prefixFilteredPairs(docs, t))
      .select(col("doc_a"), col("doc_b")).distinct()
    // ONE signature pass serves every arm: band i's min-signature
    // depends only on the band index (the rotation), not on how many
    // bands the arm asks for, so the b-band signatures are exactly the
    // max-arm signatures filtered to band < b. The shingle+md5 posting
    // pass is the dominant cost and was previously paid once PER ARM
    // (r16: ~2x on the certificate). persist, not a Lineage cut:
    // lineage survives executor loss (a lost block recomputes instead
    // of failing the job at cluster scale) and the plan stays
    // analyzable; blocks are n_docs x bands rows — a sliver of the
    // corpus (the rel_part_blast_radius discipline).
    val sigsAll = minhashSignatures(docs, bandCounts.max).persist()
    try {
      // cand(b) is MONOTONE in b — a pair is a b-band candidate iff it
      // shares a capped bucket in SOME band < b — so one bucketed
      // self-join over ALL bands, collapsed to each pair's MINIMUM
      // shared band, answers every arm at once: n_candidates(b) =
      // |{pairs : min_band < b}|, captured(b) the same over the truth
      // join. r16 paid the join+distinct once per arm (1+2+4 band
      // volumes for the default arms); this pays the max arm's volume
      // once and replaces three distincts with one min-aggregate. The
      // per-(band, signature) bucket cap is unchanged: bucket counts
      // don't depend on which arms exist.
      val ok = sigsAll.groupBy(col("band"), col("signature"))
        .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucket)
        .select(col("band"), col("signature"))
      val bucketed = sigsAll.join(ok, Seq("band", "signature"), "left_semi")
      val pairMin = bucketed
        .select(col("band"), col("signature"), col("doc_id").as("doc_a"))
        .join(bucketed.select(col("band"), col("signature"), col("doc_id").as("doc_b")),
          Seq("band", "signature"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(min(col("band")).as("mband"))
      // every arm's counts in ONE aggregate over pairMin ⟗ truth
      // (full outer: candidate-only rows carry null __truth,
      // truth-only rows null mband — a null mband fails every
      // `mband < b`, exactly an uncaptured truth pair) — the pair
      // self-join is evaluated ONCE for all arms and both axes
      val joined = pairMin.join(
        truthPairs.withColumn("__truth", lit(1L)),
        Seq("doc_a", "doc_b"), "full_outer")
      val aggRow = joined.agg(
        sum(coalesce(col("__truth"), lit(0L))).as("n_true"),
        (bandCounts.map(b =>
          sum(when(col("mband") < b, 1L).otherwise(0L)).as(s"c$b")) ++
          bandCounts.map(b =>
            sum(when(col("mband") < b && col("__truth").isNotNull, 1L)
              .otherwise(0L)).as(s"t$b"))): _*).head()
      // sums over an EMPTY joined frame are SQL null (a dup-free or
      // empty corpus) — read them as the zero counts they mean
      def cnt(i: Int): Long = if (aggRow.isNullAt(i)) 0L else aggRow.getLong(i)
      val nTrue = cnt(0)
      // assemble the ≤4 summary rows locally (the bounded-artifact
      // doctrine); recall rounding = Spark's round (BigDecimal
      // HALF_UP), the arithmetic the DuckDB oracle already certifies
      // recall under an EMPTY truth set is SQL null (no denominator) —
      // the pre-r17 contract (Spark's divide-by-zero), kept over NaN
      // because a dup-free corpus is a legitimate input and NaN is not
      // representable in strict JSON if the frame is exported
      // (r17 ADVICE)
      val rows = bandCounts.zipWithIndex.map { case (b, i) =>
        val nCand = cnt(1 + i)
        val nCapt = cnt(1 + bandCounts.size + i)
        val recall: java.lang.Double =
          if (nTrue == 0L) null
          else java.lang.Double.valueOf(BigDecimal(nCapt.toDouble / nTrue)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        org.apache.spark.sql.Row(b, nCand, nTrue, nCapt, recall)
      }
      import scala.jdk.CollectionConverters._
      docs.sparkSession.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bands",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("n_candidates",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_true",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_captured",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("recall",
            org.apache.spark.sql.types.DoubleType, nullable = true))))
    } finally sigsAll.unpersist()
  }

  /** One LARGE-STAR round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): every node attaches its strictly-GREATER
    * neighbors to the minimum of its closed neighborhood. This is the
    * distributed pointer-jumping step — a node's reach toward the
    * component minimum roughly doubles per round — expressed as one
    * whole-partition window min (one exchange; nothing collected).
    * Output edges are oriented big→small and never outnumber the
    * (undirected) input edges. */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    // neighborhood minimum as a whole-partition WINDOW over src (r19,
    // guide §2.4): the former groupBy+join-back spent two exchanges per
    // round (agg, then re-hash of sym for the join) plus a join stage;
    // the window computes m on the same pass that carries the rows —
    // ONE exchange, no join. min over the unbounded frame ≡ the old
    // aggregate; least(·, src) ≡ the old least(min(dst), first(src)).
    // Trade-off, documented: a window partition is one task per node
    // (no AQE skew split), but largeStar's big→small orientation
    // shrinks hub out-degrees each round, and the loop is scheduler-
    // bound (jobs/exchanges), not data-bound, at every certified scale.
    val w = Window.partitionBy(col("src"))
    sym
      .withColumn("m", least(min(col("dst")).over(w), col("src")))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
    // no trailing distinct (r19): duplicates here are bounded by |sym|
    // ≤ 2|edges| (each symmetric row emits at most one relink), the
    // following smallStar's window min is duplicate-insensitive, and
    // its OWN trailing distinct restores set semantics for the round —
    // dropping this exchange saves one shuffle + one AQE stage-job per
    // round for at most a 2x row inflation into one sort
  }

  /** One SMALL-STAR round: orient every edge toward its larger
    * endpoint, then each node relinks itself and ALL of its
    * smaller-or-equal neighbors to the neighborhood minimum. Together
    * with largeStar this contracts any graph to disjoint stars centered
    * at each component's minimum id in O(log² n) rounds worst-case
    * (O(log n) observed) — the giant-component-safe alternative to
    * plain label propagation, whose round cost is bounded by the
    * current (shrinking) edge count. */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val or = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    // same window reformulation as [[largeStar]] (r19): m on the rows'
    // own pass instead of groupBy+join-back. The old union of
    // (dst → m) relinks with the per-group (src → m) self-link becomes
    // one explode over [dst, src] — identical multiset (the self-link
    // appeared once per GROUP before, once per ROW here; the trailing
    // distinct already collapsed duplicate relinks and still does).
    val w = Window.partitionBy(col("src"))
    or.withColumn("m", min(col("dst")).over(w))
      .select(explode(array(col("dst"), col("src"))).as("v"), col("m"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Dedup DECISIONS — the operator a training-data pipeline actually
    * runs end-to-end: candidate edges from the MinHash LSH buckets →
    * connected components → one keeper per component.
    *
    * Edges are the buckets' STARS (bucket-min doc ↔ each member), so a
    * bucket of n docs contributes n-1 edges, never n²/2. Components are
    * resolved by alternating large-star/small-star contraction
    * ([[largeStar]]/[[smallStar]]) — the giant-component-safe
    * distributed CC algorithm: each round is two whole-partition window
    * passes over an edge set that only shrinks, NO driver-side
    * union-find, nothing ever collected; at the fixpoint the edges ARE
    * the component assignment (disjoint stars centered at each
    * component's min doc_id). The driver loop checks one O(1) scalar
    * per round (an anti-join emptiness probe), not data movement.
    *
    * Returns (doc_id, component_id, is_keeper): component_id = min
    * doc_id reachable, keeper = the doc equal to it. Docs with no
    * shingles (or no collisions) are their own singleton component. */
  def dedupComponents(
      docs: DataFrame,
      bands: Int = 4,
      maxRounds: Int = 20): DataFrame = {
    // hub per bucket as a tiny aggregate joined back onto the signatures
    // (NOT a window over the full signature list — the aggregate avoids
    // the bucket-wide sort and stays broadcast-able under AQE, the same
    // reasoning as jaccardPairs' DF cap)
    // one signature pass shared by the hub aggregate and the edge
    // join (the jaccardPairs discipline)
    val sigs = Lineage.cut(minhashSignatures(docs, bands))
    val hubs = sigs.groupBy(col("band"), col("signature"))
      .agg(min(col("doc_id")).as("hub"))
    val edges = sigs.join(hubs, Seq("band", "signature"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("src"), col("doc_id").as("dst"))
      .distinct()
    docs.select(col("doc_id"))
      .join(
        connectedComponents(edges, maxRounds)
          .withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("component_id"))
      .withColumn("is_keeper", col("doc_id") === col("component_id"))
  }

  /** Distributed connected components over an explicit (src, dst) edge
    * list: alternate [[largeStar]]/[[smallStar]] until the edge set is
    * a fixpoint — provably a disjoint union of stars centered at each
    * component's minimum node. Returns (node, component_id) for every
    * node INCIDENT to an edge (isolated nodes are the caller's to union
    * in). Per-round cost is two window passes (one exchange each) over
    * a shrinking edge set; the driver sees only an O(1) convergence
    * probe per round. */
  def connectedComponents(
      edges: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    // Each round materializes its edge set AND cuts the logical plan,
    // so the next round plans over a flat scan instead of a lineage
    // that doubles per round (a persist-only formulation re-analyzes
    // the full history every round — measured minutes at 20 rounds even
    // on 500 docs). Blocks are freed per round below.
    // lazy cuts: each round's count() is the materializing action, so
    // a round costs ONE job instead of cut+count's two — in a loop of
    // tiny frames the per-job scheduler round-trip IS the cost
    // (measured on rel_entity_resolution: 73→~55 jobs)
    var stars = Lineage.cutLazy(edges.select(col("src"), col("dst")))
    var prevCnt = stars.count()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // TWO contraction rounds per materialization (r19): the loop is
      // scheduler-bound (jobs per materialized cut), not data-bound, at
      // every certified scale — folding small∘large twice into one cut
      // halves the driver round-trips for the same total work. The
      // fixpoint test below stays sound on the doubled step: each
      // node's minimum incident label is non-increasing under BOTH
      // stars (every emitted edge (v, m) has m ≤ the neighbor it
      // replaces), so (small∘large)², like small∘large itself, can
      // only return the same edge SET when that set is already the
      // one-step fixpoint — a 2-cycle would need some node's minimum
      // to climb back. Certified by the union-find property test and
      // every CC consumer's oracle.
      val next = Lineage.cutLazy(
        smallStar(largeStar(smallStar(largeStar(stars)))))
      val cnt = next.count()
      // fixpoint test: small∘large is deterministic, so an unchanged
      // edge set means every further round is a no-op — and the only
      // fixpoints of the alternation are disjoint min-centered stars.
      // next ⊆ prev (anti-join empty) plus equal counts ⇒ set equality.
      converged = cnt == prevCnt &&
        next.join(stars, Seq("src", "dst"), "left_anti").isEmpty
      // free the previous round's checkpoint blocks NOW — leaving them
      // for driver GC strands rounds × partitions blocks per call and
      // measurably degrades later queries in the same session
      Lineage.free(stars)
      stars = next
      prevCnt = cnt
      round += 2 // two contractions per materialization — maxRounds
                 // still bounds CONTRACTIONS, not loop iterations
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents: star contraction did NOT converge after $maxRounds rounds " +
          "— components may be split; raise maxRounds")
    // at the fixpoint every non-center node has exactly one outgoing
    // edge to its component min (the min() is belt-and-braces for the
    // non-converged warn path, where a node may still carry two
    // candidate centers); centers appear only as dst and label
    // themselves
    val members = stars
      .groupBy(col("src")).agg(min(col("dst")).as("component_id"))
      .withColumnRenamed("src", "node")
    val centers = stars.select(col("dst").as("node")).distinct()
      .join(members, Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component_id"))
    members.unionByName(centers)
  }

  /** Terminal dedup op over PRECOMPUTED components (the
    * [[dedupComponents]] output, typically materialized once and
    * reused): the corpus with only component KEEPERS retained — the
    * frame a downstream training pipeline actually consumes. One
    * left-semi join against the (tiny) keeper id set; all columns pass
    * through untouched. At 100 TB nobody recomputes connected
    * components to apply them — persist the decisions, then apply. */
  def deduplicate(docs: DataFrame, components: DataFrame): DataFrame =
    docs.join(
      components.filter(col("is_keeper")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Convenience form: compute the components inline, then apply. */
  def deduplicate(docs: DataFrame, bands: Int = 4): DataFrame =
    deduplicate(docs, dedupComponents(docs, bands))

  /** Dedup with a QUALITY policy: keep each component's member
    * maximizing `score` (ties → min doc_id) instead of the id
    * minimum — "of these near-duplicates, keep the best copy", the
    * refinement real curation runs once a quality signal exists
    * (cleanest mirror of a boilerplate-mangled page wins). Same
    * shape as [[deduplicate]] plus one per-component window whose
    * partitions are component-sized; isolated docs (no component
    * row) are their own keeper. */
  def deduplicateBest(docs: DataFrame, components: DataFrame,
                      score: Column): DataFrame = {
    val labeled = docs
      .withColumn("__score", score)
      .join(components.select(col("doc_id"), col("component_id")),
        Seq("doc_id"), "left")
      .withColumn("__cid", coalesce(col("component_id"), col("doc_id")))
    val w = Window.partitionBy(col("__cid"))
      .orderBy(col("__score").desc, col("doc_id"))
    labeled.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__score", "__cid", "component_id")
  }
}
