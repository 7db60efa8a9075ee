package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training — the tokenizer-vocabulary step
  * of an LLM data pipeline, expressed Spark-first.
  *
  * BPE training is iterative: count adjacent symbol pairs over the
  * corpus (weighted by word frequency), merge the most frequent pair
  * into one symbol everywhere, repeat. The scale insight is that after
  * ONE corpus-wide aggregate (word → frequency), every round runs on
  * the VOCABULARY table — orders of magnitude smaller than the corpus
  * — so N merges cost N vocabulary-scale passes, not N corpus scans
  * (exactly how production trainers structure it: corpus reduce, then
  * iterate on the word-count table).
  *
  * Symbol sequences are kept as ONE delimited string per word
  * (`|s1|s2|...|`), so applying a merge is a codegen'd `replace` of
  * `|a|b|` with `|ab|`. One replace pass scans left-to-right over
  * non-overlapping matches, but a match consumes the trailing `|`
  * that the NEXT occurrence would need as its leading delimiter, so a
  * run like `|a|a|a|a|` ends the pass as `|aa|a|a|` — the pass is
  * applied a fixed [[mergePasses]] times (enough to reach the
  * fixpoint on any realistic word) and the ORACLE applies exactly the
  * same pass count, so the semantics are defined and engine-portable:
  * "repeated leftmost non-overlapping replacement to fixpoint". On
  * identical-character runs this fixpoint can differ from classic
  * BPE's single greedy scan (`aaaa` → `(aa)(a)(aa)…` shapes rather
  * than `(aa)(aa)(aa)`); on ordinary text the two agree. The winner
  * of each round joins in as a broadcast 1-row frame — the driver
  * never sees it, the loop only composes plans (each round eagerly
  * checkpointed so plan depth stays O(1) per round).
  *
  * The pair-count tiebreak (count desc, then symbol pair ascending)
  * makes the whole merge table deterministic and engine-portable —
  * `text_bpe_merges` replays the identical rounds in SQL.
  */
object Bpe {

  /** Replace passes per merge round (see class doc) — mirrored into
    * the oracle SQL, so both engines reach the same fixpoint. */
  val mergePasses = 3

  private def nonEmpty(a: Column): Column = array_remove(a, "")

  private def applyMerge(seq: Column, pat: Column, rep: Column): Column =
    (1 to mergePasses).foldLeft(seq)((c, _) => replace(c, pat, rep))

  /** (word, freq, seq) — the corpus reduced to its vocabulary, each
    * word exploded into single-character symbols. */
  def vocab(docs: DataFrame): DataFrame =
    TextOps.withTokens(docs)
      .select(explode(col("words")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seq",
        concat(lit("|"),
          array_join(nonEmpty(split(col("word"), "(?!^)")), "|"),
          lit("|")))

  /** Adjacent-pair counts over the current symbol sequences, weighted
    * by word frequency. */
  private def pairCounts(words: DataFrame): DataFrame = {
    val syms = nonEmpty(split(col("seq"), "\\|"))
    words
      .select(col("freq"), syms.as("s"))
      .select(col("freq"), explode(
        zip_with(slice(col("s"), lit(1), size(col("s")) - 1),
          slice(col("s"), lit(2), size(col("s")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Train `nMerges` BPE merges over the corpus's words. Returns the
    * merge table (merge_rank, sym_a, sym_b, merged, cnt) in training
    * order — the artifact a tokenizer applies at encode time. */
  def merges(docs: DataFrame, nMerges: Int): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    // per-round lineage cuts — same discipline as
    // Dedup.connectedComponents (see Lineage)
    var words = Lineage.cut(vocab(docs))
    val winners = (1 to nMerges).map { k =>
      val win = Lineage.cut(
        pairCounts(words)
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1)
          .select(lit(k).as("merge_rank"), col("a").as("sym_a"),
            col("b").as("sym_b"), concat(col("a"), col("b")).as("merged"),
            col("cnt")))
      words = Lineage.cut(
        words
          .crossJoin(broadcast(win))
          .withColumn("seq", applyMerge(col("seq"),
            concat(lit("|"), col("sym_a"), lit("|"), col("sym_b"), lit("|")),
            concat(lit("|"), col("merged"), lit("|"))))
          .select(col("word"), col("freq"), col("seq")))
      win
    }
    winners.reduce(_ union _)
  }

  /** Segment the vocabulary with a trained merge table: the symbol
    * sequences after replaying every merge in rank order — what the
    * tokenizer's encode step produces per word. The merge table is a
    * tokenizer artifact (nMerges rows — tokenizers ship these as
    * files), so collecting it to drive plan construction is the
    * standard tiny-table exception. */
  def segment(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    val ordered = mergeTable.orderBy(col("merge_rank"))
      .select(col("sym_a"), col("sym_b"), col("merged"))
      .collect()
    var words = vocab(docs)
    ordered.foreach { m =>
      words = words.withColumn("seq", applyMerge(col("seq"),
        lit(s"|${m.getString(0)}|${m.getString(1)}|"),
        lit(s"|${m.getString(2)}|")))
    }
    words.select(col("word"), col("freq"),
      nonEmpty(split(col("seq"), "\\|")).as("pieces"))
  }
}
