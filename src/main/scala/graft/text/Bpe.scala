package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Observe

/** Distributed BPE merge-rule training — the tokenizer-construction step
  * of an LLM data pipeline (reference scope: the corpus side; this
  * trains the MERGE TABLE, it does not ship an encoder).
  *
  * The industrial-scale shape: the corpus reduces ONCE to a (word,
  * count) vocabulary table (one shuffle — distinct words are orders of
  * magnitude smaller than the corpus), and every round after that works
  * on the vocabulary only: a map-combined adjacent-pair count (pair
  * space is symbol-vocabulary-bounded), ONE winner row to the driver (a
  * scalar merge rule — the same "rules are small, state is distributed"
  * posture as [[graft.ops.Graph.pageRank]]'s N), and a narrow per-row
  * fold rewriting symbol arrays. Rounds never rescan the corpus.
  *
  * Merge semantics are canonical greedy-left (Sennrich et al.): within a
  * word, occurrences of the winning pair merge left-to-right without
  * overlap — `l l l` + rule (l,l) → `ll l`, exactly what the
  * accumulator fold computes. Ties on pair count break by (left, right)
  * lexicographic order, so training is bit-deterministic on any engine
  * and any partitioning.
  */
object Bpe {

  /** Corpus → (syms, cnt) vocabulary: whitespace words, counted, split
    * to single-character symbol arrays. The ONE corpus-sized shuffle.
    */
  def wordVocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextStats.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 1)
      .groupBy(col("__w")).agg(count(lit(1)).as("cnt"))
      .select(
        transform(sequence(lit(1), length(col("__w"))),
          i => col("__w").substr(i, lit(1))).as("syms"),
        col("cnt"))

  /** Greedy-left merge of adjacent (left, right) symbol occurrences —
    * a pure-Catalyst `aggregate` fold, no UDF. Training
    * ([[trainMerges]]) and encoding ([[encodeTokenCounts]]) both route
    * through this one definition: one merge semantics, by construction.
    */
  private def foldMerge(syms: org.apache.spark.sql.Column, left: String, right: String) = {
    val merged = left + right
    when(size(syms) <= 1, syms).otherwise(
      aggregate(slice(syms, lit(2), size(syms) - 1), slice(syms, lit(1), lit(1)),
        (acc, x) =>
          when(element_at(acc, -1) === lit(left) && x === lit(right),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
            .otherwise(concat(acc, array(x)))))
  }

  /** Adjacent-pair counts over the vocabulary (position-weighted, the
    * Sennrich convention: `aaa` contributes (a,a) twice per word
    * occurrence).
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("l"),
          element_at(col("syms"), i + 1).as("r")))).as("p"), col("cnt"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("cnt")).as("n"))

  /** Train `rounds` merge rules. Returns (round, left, right, n) — fewer
    * rows if the vocabulary runs out of adjacent pairs first (fully
    * merged words stop contributing; never an error). Each round's
    * vocabulary checkpoint is released once the next one is
    * materialized, and the last one before returning.
    */
  def trainMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val spark = df.sparkSession
    // (vocabulary checkpoint, merges so far): a round that finds no
    // adjacent pair leaves both unchanged, and training is dry
    val ((vocab, merges), _) = Observe.iterate("trainMerges",
        (wordVocab(df, textCol).localCheckpoint(true), Vector.empty[(Int, String, String, Long)]),
        rounds) { case state @ (vocab, merges) =>
      val top = pairCounts(vocab)
        .orderBy(col("n").desc, col("left"), col("right"))
        .limit(1).collect()
      top.headOption.fold(state) { w =>
        val (l, ri, n) = (w.getString(0), w.getString(1), w.getLong(2))
        val next = vocab.select(foldMerge(col("syms"), l, ri).as("syms"), col("cnt"))
          .localCheckpoint(true)
        Observe.release(vocab)
        (next, merges :+ ((merges.size + 1, l, ri, n)))
      }
    }(_ eq _)
    Observe.release(vocab)
    import spark.implicits._
    merges.toDF("round", "left", "right", "n")
  }

  /** ENCODE: apply an ordered merge-rule list and report per-document
    * token statistics — the tokenizer-application step that turns a
    * trained merge table ([[trainMerges]]) into the number every LLM
    * data pipeline actually bills by (training-token counts, packing
    * budgets, mixture weights).
    *
    * Scale shape — encode the VOCABULARY, not the corpus: the corpus
    * reduces once to distinct words (the same one corpus-sized shuffle
    * as training), the merge fold (per word: symbols → `merges.size`
    * chained greedy-left folds, all codegen HOFs) runs once per DISTINCT
    * word, and per-document counts come from one word-keyed join of the
    * document word stream against that vocabulary-sized table — joined
    * HINT-FREE: AQE broadcasts it from its measured shuffle size while
    * the vocabulary fits and keeps the word-keyed shuffle join when it
    * doesn't. Folding per occurrence instead would redo the merge work
    * occurrence-many times.
    *
    * Empty words (consecutive whitespace) are dropped on both the count
    * and the join side; documents with no words produce no row.
    *
    * @param merges ordered (left, right) rules, applied in sequence —
    *               exactly [[trainMerges]]'s output order
    * @return (id, n_words, n_chars, n_tokens) per document
    */
  def encodeTokenCounts(df: DataFrame, idCol: String, textCol: String,
                        merges: Seq[(String, String)]): DataFrame = {
    // empty merges is legal: a fully-dried training run (trainMerges
    // stopped before round 1) degrades to character tokenization
    val docWords = df
      .select(col(idCol), explode(TextStats.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 1)
    // each fold level is BOUND as a lambda variable: foldMerge references
    // its input ~5 times, so naive chaining grows the expression tree
    // 5^rules-fold (observed: analyzer heap death at 8 rules); binding
    // keeps growth linear and each level materialized once per word
    import graft.functions.ArrayMath.bound
    val folded = merges.foldLeft(
      transform(sequence(lit(1), length(col("__w"))),
        i => col("__w").substr(i, lit(1))): org.apache.spark.sql.Column
    ) { case (c, (l, r)) => bound(c)(s => foldMerge(s, l, r)) }
    // hint-free vocabulary join: AQE broadcasts the (vocabulary-sized)
    // fold output from its measured shuffle size while it fits, and
    // keeps the word-keyed shuffle join when a 100 TB vocabulary
    // doesn't — no probe job, no hard-coded hint to OOM the driver
    val vocabTok = docWords.select(col("__w")).distinct()
      .select(col("__w"), size(folded).cast("long").as("__ntok"))
    docWords.join(vocabTok, Seq("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("__w")).cast("long")).as("n_chars"),
        sum(col("__ntok")).as("n_tokens"))
  }
}
