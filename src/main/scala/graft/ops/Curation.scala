package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pre-training corpus curation — the pipeline a data team
  * actually runs before a token ever reaches a trainer, composed from
  * this engine's individually certified stages into ONE lazy DAG:
  *
  *   corpus → train/benchmark split → quality filter → exact dedup
  *          → MinHash-LSH near-dedup → benchmark decontamination
  *
  * (the CCNet / RefinedWeb / Dolma recipe shape; each stage's
  * semantics are identical to its standalone certified query, so the
  * composed oracle is the composition of the standalone oracles).
  *
  * Stage semantics:
  *  1. split      — deterministic md5-bucket split ([[Sampling.trainEvalSplit]]):
  *                  the heldout side IS the benchmark; only the train
  *                  side is curated. Key-consistent ⇒ rerun-stable.
  *  2. quality    — [[TextOps.qualityFilter]] at `qualityFrac`, with
  *                  the histogram threshold computed over the TRAIN
  *                  side (the corpus being curated), not the benchmark.
  *  3. exact      — keep min doc_id per md5(text) among survivors.
  *  4. near       — [[Dedup.dedupComponents]] (LSH banding →
  *                  large-star/small-star components) over survivors;
  *                  keep component minima via [[Dedup.deduplicate]].
  *  5. decontam   — drop any survivor sharing ONE `decontamN`-gram
  *                  with the benchmark (the train-side n-gram
  *                  decontamination of GPT-3/PaLM eval hygiene; the
  *                  inverse direction of [[Sampling.ngramContamination]],
  *                  which flags the heldout side).
  *
  * 100 TB shape: every stage is a semi/anti equi-join or map-side
  * filter on `doc_id` or a 32-byte digest — document text never
  * crosses a shuffle after its shingle/digest projection. The only
  * iterative piece is the components loop, which materializes per
  * round through [[Lineage]]. The benchmark n-gram set shuffles as an
  * equi-join on the gram text (a web-scale benchmark set is itself
  * too large to broadcast; AQE broadcasts it when it is not).
  *
  * Reference anchor: the reference validates, deduplicates and
  * filters its order stream before acting on it
  * (src/order_processor/app.py:24-63) — this is that
  * validate-dedup-filter contract applied to a training corpus.
  */
object Curation {

  /** Curation knobs. `salt` keys the split; same salt ⇒ same benchmark
    * forever (the leak-proof property the split stage exists for). */
  case class Params(
      trainFrac: Double = 0.8,
      salt: String = "cur",
      qualityFrac: Double = 0.5,
      bands: Int = 4,
      decontamN: Int = 5)

  /** Every stage's surviving frame, plus the component decisions (so
    * callers can free the contraction loop's checkpoint blocks once
    * the survivors are materialized — the [[Lineage.free]] discipline). */
  case class Stages(
      corpus: DataFrame,
      train: DataFrame,
      bench: DataFrame,
      quality: DataFrame,
      exact: DataFrame,
      near: DataFrame,
      fin: DataFrame,
      components: DataFrame)

  /** Build the full pipeline. The components loop runs its (eager,
    * driver-probed) contraction when this is CALLED, and the three
    * most-reused survivor frames (`quality`, `exact`, `near`) are
    * eagerly lineage-cut ([[Lineage.cut]]): every downstream consumer
    * — the components edge build, the decontam postings, the funnel
    * counts' six branches and the audit's five membership joins —
    * otherwise re-evaluates the full quality+digest chain per
    * reference (measured: the audit join alone re-ran it five times;
    * the quality re-derivations alone were ~3.5 s of an ~11 s sf0.1
    * build). Callers that persist the outputs should free the cut
    * blocks afterwards ([[Lineage.free]] on
    * `quality`/`exact`/`near`/`components`). */
  def stages(docs: DataFrame, p: Params = Params()): Stages = {
    val tagged = Sampling
      .trainEvalSplit(docs.select(col("doc_id")), col("doc_id"), p.trainFrac, p.salt)
    val train = docs.join(
      tagged.filter(col("split") === "train").select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val bench = docs.join(
      tagged.filter(col("split") === "heldout").select(col("doc_id")),
      Seq("doc_id"), "left_semi")

    // quality: the filter returns the SCORED frame; survivors semi-join
    // back so text flows on (scores are a per-doc projection, cheap to
    // recompute, not worth carrying through every later shuffle).
    // CUT like exact/near (r15): the quality chain (split semi-join +
    // score quantile + survivor semi-join) is otherwise re-derived by
    // the exact-dedup digest pass, the funnel counts AND the audit's
    // membership flags — profiled at sf0.1, those re-derivations were
    // ~3.5 s of the build's ~11 s (docs/BENCH_NOTES.md r15)
    val quality = Lineage.cut(train.join(
      TextOps.qualityFilter(train, p.qualityFrac).select(col("doc_id")),
      Seq("doc_id"), "left_semi"))

    // exact dedup: keeper = min doc_id per content digest; the shuffle
    // carries (32-byte digest, id), never text
    val exact = Lineage.cut(
      quality.join(
        quality.groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi"))

    val components = Dedup.dedupComponents(exact, p.bands)
    val near = Lineage.cut(Dedup.deduplicate(exact, components))

    // decontamination: one shared n-gram is disqualifying. Survivors
    // too short to carry an n-gram cannot collide and pass through.
    val benchGrams = TextOps.shinglePostings(bench, p.decontamN)
      .select(col("shingle")).distinct()
    val contaminated = TextOps.shinglePostings(near, p.decontamN)
      .join(benchGrams, Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
    val fin = near.join(contaminated, Seq("doc_id"), "left_anti")

    Stages(docs, train, bench, quality, exact, near, fin, components)
  }

  /** The curation funnel as data: one row per stage with its survivor
    * count — the first dashboard a corpus owner builds, and the frame
    * that certifies every stage boundary at once (a wrong threshold,
    * digest, band rotation or gram width moves some count). */
  def stageCounts(st: Stages): DataFrame = {
    def one(idx: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"), col("n_docs"))
    one(0, "corpus", st.corpus)
      .unionByName(one(1, "train_split", st.train))
      .unionByName(one(2, "quality", st.quality))
      .unionByName(one(3, "exact_dedup", st.exact))
      .unionByName(one(4, "near_dedup", st.near))
      .unionByName(one(5, "decontaminated", st.fin))
  }

  /** Convenience terminal form: the curated corpus itself. */
  def curate(docs: DataFrame, p: Params = Params()): DataFrame =
    stages(docs, p).fin

  /** Per-document disposition — the explainability record behind the
    * funnel: every corpus doc labeled with where it ended up
    * (`kept`, or the FIRST stage that dropped it: `benchmark` /
    * `quality` / `exact_dup` / `near_dup` / `contaminated`). Pure
    * membership arithmetic over the stage frames (left joins on
    * doc_id + a chained conditional), so the audit costs five
    * digest-width joins, not a recomputation — and `counts(stage)`
    * must equal the funnel's deltas, which the spec pins. */
  def audit(st: Stages): DataFrame = {
    def flag(df: DataFrame, name: String) =
      df.select(col("doc_id"), lit(true).as(name))
    val joined = st.corpus.select(col("doc_id"))
      .join(flag(st.train, "in_train"), Seq("doc_id"), "left")
      .join(flag(st.quality, "in_quality"), Seq("doc_id"), "left")
      .join(flag(st.exact, "in_exact"), Seq("doc_id"), "left")
      .join(flag(st.near, "in_near"), Seq("doc_id"), "left")
      .join(flag(st.fin, "in_fin"), Seq("doc_id"), "left")
    joined.select(col("doc_id"),
      when(col("in_fin"), "kept")
        .when(col("in_train").isNull, "benchmark")
        .when(col("in_quality").isNull, "quality")
        .when(col("in_exact").isNull, "exact_dup")
        .when(col("in_near").isNull, "near_dup")
        .otherwise("contaminated").as("disposition"))
  }
}
