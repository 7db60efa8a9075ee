package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (the SentencePiece algorithm, Kudo
  * 2018) in its hard-EM/Viterbi form — the OTHER production tokenizer
  * family next to [[Bpe]]: instead of greedy merges, a piece
  * vocabulary with probabilities, each word segmented by the
  * minimum-cost (max-likelihood) piece path, probabilities re-fit
  * from the chosen paths.
  *
  * Pipeline: corpus → word counts (the ONE corpus-scale aggregate,
  * [[Bpe.vocab]]'s discipline) → seed pieces = all substrings up to
  * `maxPieceLen`, top `topV` by corpus frequency plus every single
  * character (coverage guarantee) → Viterbi DP per word → piece
  * counts on the best paths → re-fit → second Viterbi. Everything
  * after the first aggregate runs at VOCABULARY × word-length scale.
  *
  * The DP is relational AND single-pass: `spans` enumerates every
  * (word, end, piece) occurrence ONCE, pieces attach by a plain EQUI
  * join on the span text, then ONE `groupBy(word)` collects each
  * word's edge list (≤ maxWordLen × maxPieceLen entries — bounded by
  * contract) and the whole Viterbi runs inside a single codegen'd
  * higher-order expression (`aggregate` over positions, `filter`/
  * `array_sort` over the per-word edges). One shuffle per Viterbi
  * pass instead of `maxWordLen` sequential vocabulary-scale joins —
  * the earlier join-per-position formulation was pure scheduling
  * cost (16 jobs per train; BenchOne attributed 15 s of cold train
  * to it at sf0.1). No theta join anywhere.
  *
  * Determinism across engines (the Lloyd/Pca discipline): piece
  * costs -ln(freq/total) are FLOAT-quantized before any comparison,
  * so libm ulp noise cannot flip an argmin; path costs are exact
  * same-order sums of those quantized terms; ties break by
  * (cost, piece length DESC, piece) at every DP cell. Words longer
  * than `maxWordLen` are excluded by contract (pre-split upstream —
  * the oracle replays a FIXED step count).
  */
object UnigramLm {

  private def q(c: Column): Column = c.cast("float").cast("double")

  /** (word, freq) — corpus reduced to its vocabulary. Zero-length
    * tokens (split artifacts of leading/double spaces) are OUT OF
    * CONTRACT, like over-length words: an empty word has no spans, so
    * the DP could only ever emit it with an empty path and cost 0 —
    * a degenerate row no tokenizer consumer wants. Excluded here (and
    * in the oracle's replay) rather than special-cased downstream. */
  def wordCounts(docs: DataFrame, maxWordLen: Int): DataFrame =
    TextOps.withTokens(docs)
      .select(explode(col("words")).as("word"))
      .filter(length(col("word")) <= maxWordLen && length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Every (word, end_pos, pred_pos, piece-text) occurrence of a
    * substring of length ≤ maxPieceLen — enumerated once, reused by
    * both Viterbi passes. */
  def spans(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .select(col("word"),
        explode(sequence(lit(1), least(lit(maxPieceLen), length(col("word"))))).as("l"))
      .select(col("word"), col("l"),
        explode(sequence(col("l"), length(col("word")))).as("end_pos"))
      .select(col("word"), col("end_pos"), (col("end_pos") - col("l")).as("pred_pos"),
        col("word").substr(col("end_pos") - col("l") + 1, col("l")).as("span"))

  /** Seed vocabulary: top `topV` substrings by corpus-weighted
    * occurrence count, plus all single characters. Returns
    * (piece, pfreq). */
  def seedPieces(words: DataFrame, maxPieceLen: Int, topV: Int): DataFrame = {
    val occ = spans(words, maxPieceLen)
      .join(words, Seq("word"))
      .groupBy(col("span")).agg(sum(col("freq")).as("pfreq"))
    // vocabulary-scale global rank; single partition keyed off a real
    // column (the repo's WindowExec-WARN discipline)
    val w = Window.partitionBy(pmod(hash(col("span")), lit(1)))
      .orderBy(col("pfreq").desc, col("span"))
    occ.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topV || length(col("span")) === 1)
      .select(col("span").as("piece"), col("pfreq"))
  }

  /** Float-quantized piece costs -ln(pfreq / total) over the given
    * piece set; total is the set's own mass (broadcast 1-row). */
  def pieceCosts(pieces: DataFrame): DataFrame =
    pieces
      .crossJoin(broadcast(pieces.agg(sum(col("pfreq")).as("t"))))
      .select(col("piece"),
        q(-log(col("pfreq").cast("double") / col("t"))).as("nlp"))

  /** Minimum-cost segmentation per word: (word, freq, path, cost)
    * with path = pieces joined by '|'. The whole DP runs inside one
    * expression per word over the collected edge array: position j's
    * cell is the (cost, piece length DESC, piece)-minimal extension
    * of a reachable predecessor cell by an edge ending at j. Cost
    * sums accumulate left-to-right exactly as the former
    * join-per-position formulation did, so float totals — and
    * therefore tie-breaks — are bit-identical to it and to the
    * oracle's fixed-step SQL replay. */
  def viterbi(
      words: DataFrame, costs: DataFrame, maxPieceLen: Int): DataFrame = {
    val cand = spans(words, maxPieceLen)
      .join(costs, col("span") === col("piece"))
      .select(col("word"), col("end_pos"), col("pred_pos"), col("span"), col("nlp"))
    val edges = cand.groupBy(col("word"))
      .agg(collect_list(struct(
        col("end_pos"), col("pred_pos"), col("span"), col("nlp"))).as("edges"))
    // dp cell: (ok = reachable, cost, path); index i+1 holds position i
    def cell(ok: Column, cost: Column, path: Column): Column =
      struct(ok.as("ok"), cost.as("cost"), path.as("path"))
    val deadCell = cell(lit(false), lit(0.0), lit(""))
    val byCostLenPiece: (Column, Column) => Column = (a, b) =>
      when(a("cost") < b("cost"), -1).when(a("cost") > b("cost"), 1)
        .when(a("plen") > b("plen"), -1).when(a("plen") < b("plen"), 1)
        .when(a("span") < b("span"), -1).when(a("span") > b("span"), 1)
        .otherwise(0)
    val dpFinal = aggregate(
      sequence(lit(1), length(col("word"))),
      array(cell(lit(true), lit(0.0), lit(""))),
      (acc, j) => {
        val scored = transform(
          filter(col("edges"), e => e("end_pos") === j),
          e => {
            val prev = element_at(acc, e("pred_pos") + 1)
            struct(prev("ok").as("ok"),
              (prev("cost") + e("nlp")).as("cost"),
              length(e("span")).as("plen"), e("span").as("span"),
              when(prev("path") === "", e("span"))
                .otherwise(concat(prev("path"), lit("|"), e("span"))).as("path"))
          })
        val reach = filter(scored, s => s("ok"))
        val best = element_at(array_sort(reach, byCostLenPiece), 1)
        concat(acc, array(when(size(reach) > 0,
          cell(lit(true), best("cost"), best("path"))).otherwise(deadCell)))
      },
      acc => element_at(acc, size(acc))) // the cell at position len(word)
    edges.join(words, Seq("word"))
      .select(col("word"), col("freq"), dpFinal.as("fin"))
      .filter(col("fin")("ok"))
      .select(col("word"), col("freq"),
        col("fin")("path").as("path"), col("fin")("cost").as("cost"))
  }

  /** Piece counts over chosen paths, corpus-weighted — the hard-EM
    * M-step input. */
  def pathCounts(segmented: DataFrame): DataFrame =
    segmented
      .select(col("freq"), explode(split(col("path"), "\\|")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("pfreq"))

  /** Full train: seed → Viterbi → re-fit → Viterbi. Output one row
    * per vocabulary word: (word, freq, path, n_pieces). */
  def train(
      docs: DataFrame, maxPieceLen: Int, topV: Int, maxWordLen: Int): DataFrame = {
    val words = Lineage.cut(wordCounts(docs, maxWordLen))
    val seg1 = viterbi(words,
      pieceCosts(seedPieces(words, maxPieceLen, topV)), maxPieceLen)
    val seg2 = viterbi(words,
      pieceCosts(Lineage.cut(pathCounts(seg1))), maxPieceLen)
    seg2.select(col("word"), col("freq"), col("path"),
      size(split(col("path"), "\\|")).as("n_pieces"))
  }

  /** Serving path: tokenize the corpus with a trained segmentation
    * table — a map-only broadcast lookup per word (the table is
    * vocabulary-sized by construction), aggregated to per-document
    * token-expansion stats. Words absent from the table (longer than
    * the training maxWordLen) are excluded by the same contract that
    * excluded them from training. */
  def encode(docs: DataFrame, segmented: DataFrame): DataFrame =
    TextOps.withTokens(docs)
      .select(col("doc_id"), explode(col("words")).as("word"))
      .join(broadcast(segmented.select(col("word"), col("n_pieces"))), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces_total"))
      .withColumn("pieces_per_word",
        round(col("n_pieces_total").cast("double") / col("n_words"), 4))
}
