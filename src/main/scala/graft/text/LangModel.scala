package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Observe

/** Statistical n-gram language-model scoring — the perplexity-proxy
  * quality filter of the classic pretraining pipelines (CCNet-style):
  * train bigram counts on a trusted corpus, score candidate documents by
  * average smoothed log-probability, drop the tail.
  *
  * Not in the reference; engine extension (SURVEY §2.11).
  *
  * Scale design: the model IS a DataFrame (token-pair counts — shuffles
  * on token keys, map-side combined), scoring is two hash joins (bigram
  * hit, unigram backoff) against it, and the per-doc reduction rides one
  * doc-key shuffle. Nothing round-trips the driver; a trained model
  * persists like any table and broadcasts when it fits.
  *
  * Determinism: every count statistic is exact-integer; the log terms
  * are rounded to fixed decimals BEFORE the per-doc sum (decimal sums
  * are order-insensitive, so a re-run or re-partitioning cannot change a
  * score — raw double summation would). Cross-engine, compare the
  * integer sufficient statistics (n_bigrams / n_unseen / sum counts);
  * ln itself differs across libm builds.
  */
object LangModel {

  /** Tokens, [[TextStats.tokens]] convention (single-space split),
    * empty tokens dropped.
    */
  private def toks(text: Column): Column =
    filter(TextStats.tokens(text), t => t =!= "")

  /** Train bigram + conditioning-unigram counts from a corpus.
    *
    * Output: one row per distinct adjacent pair `(w1, w2, c12, c1)`
    * where `c12` = corpus count of the pair and `c1` = corpus count of
    * `w1` as a bigram PREFIX (so Σ_{w2} c12 = c1 exactly — the
    * conditional distribution normalizes). One explode + two shuffles:
    * the token-pair aggregation (map-side combined over the raw stream),
    * then the w1-window re-exchange of the MODEL-sized pair table — the
    * second shuffle moves distinct pairs, never the token stream, and no
    * second corpus scan happens.
    */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    val pairs = docs
      .select(explode(arrays_zip(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))))).as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
    val grouped = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    grouped.withColumn("c1",
      sum(col("c12")).over(org.apache.spark.sql.expressions.Window.partitionBy("w1")))
  }

  /** Bigram-model vocabulary size (distinct conditioning prefixes) — the
    * smoothing denominator's support.
    */
  def vocabSize(model: DataFrame): Long =
    Observe.rowCount(model.select("w1").distinct())

  /** Score each document against a trained bigram model with add-k
    * smoothing: `P(w2|w1) = (c12 + k) / (c1 + k·V)`, unseen pairs and
    * prefixes backed off through the same formula with zero counts.
    *
    * Output per doc: `n_bigrams`, `n_unseen` (pair not in model),
    * `sum_c12`, `sum_c1` (exact-integer sufficient statistics), and
    * `avg_logp` (mean ln-probability; higher = more in-domain). Docs
    * with fewer than 2 tokens score null with zero counts.
    */
  def scoreDocs(docs: DataFrame, model: DataFrame, idCol: String,
                textCol: String, vocab: Long, k: Double = 0.5): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    require(vocab > 0, "vocabulary size must be positive")
    val t = toks(col(textCol))
    val bgs = docs
      .select(col(idCol), explode(arrays_zip(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))))).as("bg"))
      .select(col(idCol), col("bg.0").as("w1"), col("bg.1").as("w2"))
    // unigram prefix counts derived from the model (no second corpus scan)
    val uni = model.select(col("w1"), col("c1")).distinct()
    val joined = bgs
      .join(model.select("w1", "w2", "c12"), Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .select(col(idCol),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"))
    val logp = log((col("c12") + k) / (col("c1") + k * vocab))
    // fixed-decimal terms -> order-insensitive decimal sum: scores are
    // identical under any partitioning or replay
    val term = round(logp, 9).cast(DecimalType(24, 9))
    val scored = joined.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_bigrams"),
      sum(when(col("c12") === 0, 1L).otherwise(0L)).as("n_unseen"),
      sum(col("c12")).as("sum_c12"),
      sum(col("c1")).as("sum_c1"),
      (sum(term).cast("double") / count(lit(1))).as("avg_logp"))
    // docs too short to have bigrams still appear, with empty stats
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("sum_c12"), lit(0L)).as("sum_c12"),
        coalesce(col("sum_c1"), lit(0L)).as("sum_c1"),
        col("avg_logp"))
  }
}
