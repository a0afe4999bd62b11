package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword relevance ranking (BM25 family) over a document corpus.
  *
  * Not in the reference (which has no text surface); this is part of the
  * engine's training-data/retrieval extension set (SURVEY §2.11): scoring
  * documents against query terms for retrieval-based decontamination,
  * seed-query corpus slicing, and hard-negative mining.
  *
  * Scale design:
  *   - the token stream is filtered to the query terms BEFORE any shuffle,
  *     so the grouped state is O(docs × |query|) rather than O(total
  *     tokens) — at 100 TB only matching postings ever leave the scan;
  *   - per-term document frequencies and the corpus stats (N, avg doc
  *     length) are tiny aggregates attached via broadcast joins — the one
  *     real shuffle is the (doc, term) partial-aggregated count;
  *   - scoring is pure deterministic double arithmetic (codegen'd), no
  *     UDFs.
  *
  * Determinism: the classic BM25 idf `ln((N-df+0.5)/(df+0.5))` is replaced
  * by its rational argument `(N-df+0.5)/(df+0.5)` — a strictly monotone
  * transform, so PER-TERM orderings are identical to log-idf BM25.
  * Multi-term totals are a different (still monotone-idf) scoring family:
  * dropping the log weights rare terms more aggressively than BM25's
  * summed log-idfs, and very common terms (df > N/2) keep a small
  * positive weight instead of BM25's negative one — a deliberate trade
  * for exact reproducibility, since every remaining operation is a single
  * IEEE-754 rounding (+, *, /) and an external engine (the DuckDB oracle)
  * evaluating the same expression tree reproduces the scores
  * bit-for-bit, with no library-`ln` ulp drift. Wrap the idf factor in
  * `log(...)` if classic BM25 totals matter more than bit equality.
  */
object Rank {

  /** Per-(document, term) BM25 scores for `queryTerms`.
    *
    * Returns `(idCol, term, tf, df, dl, score)` — one row per document ×
    * matched query term. Compose per-document totals with a conditional
    * aggregation over the fixed term set (see q_bm25) to keep double
    * addition order explicit and deterministic.
    *
    * @param k1 term-frequency saturation (BM25 standard 1.2)
    * @param b  length normalization strength (BM25 standard 0.75)
    * @param corpusStats optional precomputed `(n_docs, sum_token_count)`.
    *   The corpus statistics are an index-time artifact (like IVF
    *   centroids): at 100 TB compute them once when the corpus lands and
    *   pass them here, which removes the stats branch — and its extra
    *   scan of the text column — from every query. Left None, they are
    *   computed from `docs` for convenience (consumer branches prune the
    *   shared lineage differently, so the planner cannot reuse one
    *   exchange across them — expect additional text scans).
    */
  def bm25Scores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      corpusStats: Option[(Long, Long)] = None,
  ): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val id = col(idCol)
    val terms = queryTerms.map(lit(_))

    // ONE scan of the text column: doc length + the query-term hits,
    // filtered INSIDE the token array (HOF) so only matches ever explode.
    // explode_outer keeps hit-free docs alive for the corpus stats.
    val ex = docs
      .select(id, TextStats.tokens(col(textCol)).as("__w"))
      .select(id, size(col("__w")).as("dl"),
        filter(col("__w"), t => t.isin(terms: _*)).as("__hits"))
      .select(id, col("dl"), explode_outer(col("__hits")).as("term"))

    // ONE corpus-sized shuffle: partial-aggregated (doc, dl, term)
    // counts, null-term rows included so every document survives. Both
    // consumers below share this exact Exchange subtree, so the planner
    // reuses it (ReusedExchange) and the text column is scanned ONCE.
    val tfAll = ex.groupBy(id, col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

    val tf = tfAll.filter(col("term").isNotNull)

    // tiny per-term document frequencies — broadcast back
    val dfs = tf.groupBy(col("term")).agg(countDistinct(id).as("df"))

    // corpus stats: precomputed (index-time) or derived here. The derived
    // branch collapses the aggregated lineage to one row per doc, then
    // one global aggregate. dl sums exactly in long either way.
    val spark = docs.sparkSession
    val stats = corpusStats match {
      case Some((nDocs, sumDl)) =>
        spark.range(1).select(lit(nDocs).as("n_docs"), lit(sumDl).as("sum_dl"))
      case None =>
        tfAll.groupBy(id, col("dl")).agg(count(lit(1)).as("__x"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    }

    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    // rank-equivalent rational idf; every op a single IEEE rounding
    val idfR = ((nD - col("df").cast("double")) + lit(0.5)) / (col("df").cast("double") + lit(0.5))
    val denom = tfD + lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * (dlD / avgdl))
    val score = idfR * ((tfD * lit(k1 + 1.0)) / denom)

    tf.join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .select(id, col("term"), col("tf"), col("df"), col("dl"), score.as("score"))
  }

  /** Batch BM25 retrieval: score every query row against every corpus
    * document sharing at least one term — [[bm25Scores]] generalized from
    * a literal term list to a QUERY TABLE (the retrieval-evaluation /
    * seed-query-expansion shape).
    *
    * Returns `(qId, cId, score_nano long, n_terms long)` — one row per
    * (query, document) pair with >= 1 matching term. Per-TERM scores are
    * quantized EARLY to integer nano-units (`round(score·1e9)` — the
    * round-per-term playbook trick), so per-pair totals are exact BIGINT
    * sums: bit-reproducible at any parallelism, MAP-SIDE COMBINABLE
    * (unlike an ordered double fold, which needs the whole term list in
    * one place), and engine-portable (the per-term doubles are identical
    * IEEE trees in both engines, so the quantization agrees). Ranking is
    * unchanged for any score gap above 1e-9 relative units.
    *
    * Scale shape: corpus postings are pruned by a hint-free semi-join
    * against the DISTINCT query-term set BEFORE the (doc, term)
    * aggregation — with a bounded query workload AQE broadcasts the term
    * set and the grouped state is O(docs × matched terms), never O(total
    * tokens). Per-term dfs and the 1-row corpus stats attach via bounded
    * joins; the (query, doc) pair stream is proportional to postings ×
    * queries-per-term, the classic inverted-index fan-out.
    */
  def bm25SearchAll(
      corpus: DataFrame, cId: String, cText: String,
      queries: DataFrame, qId: String, qText: String,
      k1: Double = 1.2, b: Double = 0.75,
      corpusStats: Option[(Long, Long)] = None,
  ): DataFrame = {
    require(qId != cId, s"query and corpus id columns must differ: $qId")
    val qterms = queries.select(col(qId).as("__qid"),
      explode(array_distinct(TextStats.tokens(col(qText)))).as("term"))
    val termSet = qterms.select(col("term")).distinct()
    val postings = corpus
      .select(col(cId).as("__cid"), TextStats.tokens(col(cText)).as("__w"))
      .select(col("__cid"), size(col("__w")).as("dl"), explode(col("__w")).as("term"))
      .join(termSet, Seq("term"), "left_semi")
      .groupBy(col("__cid"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfs = postings.groupBy(col("term")).agg(countDistinct(col("__cid")).as("df"))
    val spark = corpus.sparkSession
    val stats = corpusStats match {
      case Some((nDocs, sumDl)) =>
        spark.range(1).select(lit(nDocs).as("n_docs"), lit(sumDl).as("sum_dl"))
      case None =>
        corpus.select(TextStats.tokenCount(col(cText)).cast("long").as("__dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("__dl")).as("sum_dl"))
    }
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val idfR = ((nD - col("df").cast("double")) + lit(0.5)) / (col("df").cast("double") + lit(0.5))
    val denom = tfD + lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * (dlD / avgdl))
    val score = idfR * ((tfD * lit(k1 + 1.0)) / denom)
    // the per-term score is QUERY-INDEPENDENT — quantize it once per
    // posting (|postings| rows), and only then fan out across the queries
    // sharing the term: the expensive expression never re-evaluates per query
    postings
      .join(dfs, Seq("term"))
      .crossJoin(stats)
      .select(col("__cid"), col("term"),
        round(score * lit(1e9), 0).cast("long").as("__sc"))
      .join(qterms, Seq("term"))
      .groupBy(col("__qid"), col("__cid"))
      .agg(sum(col("__sc")).as("score_nano"), count(lit(1)).as("n_terms"))
      .withColumnRenamed("__qid", qId)
      .withColumnRenamed("__cid", cId)
  }

  /** Per-document top-`k` keywords by TF-IDF with the same rational idf
    * family as [[bm25Scores]] (`(N+1)/(df+1)`, every operation a single
    * IEEE rounding — oracle-reproducible bit-for-bit).
    *
    * Unlike [[bm25Scores]]' fixed query set, EVERY term flows here, so
    * the df table is vocabulary-sized: it joins by shuffle at corpus
    * scale (Spark will broadcast it when it fits). `minDf` prunes the
    * hapax tail — typically half the vocabulary and pure noise for
    * keyword extraction. N counts documents with at least one token.
    * Returns `(idCol, rank, term, tf, df, score)`, `rank ≤ k` per doc
    * (WindowGroupLimit bounds the per-partition state).
    */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minDf: Int = 2,
  ): DataFrame = {
    require(k > 0, "k must be positive")
    require(minDf >= 1, "minDf must be at least 1")
    val id = col(idCol)
    val tf = docs
      .select(id, explode(TextStats.tokens(col(textCol))).as("term"))
      .groupBy(id, col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val stats = tf.select(id).distinct().agg(count(lit(1)).as("n_docs"))
    val score = col("tf").cast("double") *
      ((col("n_docs").cast("double") + lit(1.0)) / (col("df").cast("double") + lit(1.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(id).orderBy(col("score").desc, col("term").asc)
    tf.join(dfs, "term")
      .crossJoin(broadcast(stats))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(id, col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Bigram PMI collocation extraction — the classic "phrase miner"
    * (which adjacent word pairs co-occur far above chance: named
    * entities, multi-word terms worth fusing into single tokens before
    * BPE/embedding training). Pointwise mutual information over the
    * bigram contingency table:
    *
    *   pmi(w1,w2) = ln c12 + ln N − ln c1 − ln c2
    *
    * with c1/c2 the LEFT/RIGHT MARGINALS of the bigram table itself
    * (not corpus unigram counts — the table's own marginals make the
    * measure a proper contingency PMI and keep every count from one
    * stream). Every `ln` argument is an integer-valued double and the
    * additions run in the fixed written order, so 6-dp values replay in
    * any engine (the q_elementary_index rule). `minCount` drops the
    * unstable low-count tail (PMI's known pathology: a 1-occurrence
    * pair of two rare words maxes the score).
    *
    * Scale shape: bigrams explode from the token arrays (row-local) and
    * reduce in ONE map-side-combined (w1,w2) aggregation — the only
    * corpus-sized shuffle; marginals are windows over the vocab²-bounded
    * bigram table (measured in r9 against groupBy-join marginals, which
    * lose: the join's pushdown breaks exchange reuse and re-scans the
    * corpus per branch — see PLANS.md) and N rides a 1-row
    * reused-exchange broadcast. Returns `(w1, w2, c12, pmi)`.
    */
  def bigramPmi(docs: DataFrame, text: Column, minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val t = TextStats.tokens(text)
    val bigrams = docs.select(explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val cells = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val total = cells.agg(sum(col("c12")).as("__N"))
    // Marginals as windows over the vocab²-bounded cell table — KEPT
    // after the r9 groupBy-join experiment: the join form (marginals as
    // groupBy(w1)/(w2) aggregates joined back) re-derives `cells` in
    // every branch because the join's IsNotNull pushdown breaks
    // exchange-subtree identity, so its executed plan scans the corpus
    // FOUR times and paid 0.85–1.02s at sf0.1 vs 0.75s for this form
    // (idle box, min-of-2; plan + numbers in PLANS.md). The windows
    // cost two sorts of a vocabulary-bounded table and keep the corpus
    // scan/shuffle count at one.
    val W = org.apache.spark.sql.expressions.Window
    val c1 = sum(col("c12")).over(W.partitionBy(col("w1")))
    val c2 = sum(col("c12")).over(W.partitionBy(col("w2")))
    val pmi = log(col("c12").cast("double")) + log(col("__N").cast("double")) -
      log(col("__c1").cast("double")) - log(col("__c2").cast("double"))
    cells
      .withColumn("__c1", c1)
      .withColumn("__c2", c2)
      .crossJoin(broadcast(total))
      .filter(col("c12") >= minCount)
      .select(col("w1"), col("w2"), col("c12"), round(pmi, 6).as("pmi"))
  }

  /** Vocabulary richness and coverage per group — "how much vocabulary
    * HAVEN'T we crawled yet?", the corpus-planning question the
    * observed type count can't answer: from the token frequency
    * spectrum's first two cells,
    *
    *   Chao1 = V + f1·(f1−1) / (2·(f2+1))     (bias-corrected form,
    *           defined even when no doubletons exist)
    *   coverage = 1 − f1/N                    (Good-Turing: the
    *           probability mass of UNSEEN types)
    *
    * with V = observed types, f1/f2 = types seen once/twice, N = total
    * tokens. Returns `(groups..., n_tokens, n_types, f1, f2, chao1,
    * coverage)`, 6 dp.
    *
    * Determinism: the spectrum cells are exact longs; chao1/coverage
    * are one IEEE division each. Scale shape: one token-keyed
    * map-combined counting exchange, then a vocabulary-bounded rollup —
    * the q_zipf plan without the rank sort.
    */
  def vocabularyRichness(docs: DataFrame, groupBy: Seq[String],
                         text: Column): DataFrame = {
    require(groupBy.nonEmpty, "vocabularyRichness needs group keys")
    val gCols = groupBy.map(col)
    val counts = docs
      .select(gCols :+ explode(TextStats.tokens(text)).as("__t"): _*)
      .filter(col("__t").isNotNull)
      .groupBy(gCols :+ col("__t"): _*)
      .agg(count(lit(1)).as("__n"))
    val spectrum = counts.groupBy(gCols: _*).agg(
      sum(col("__n")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("__n") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("__n") === 2L, 1L).otherwise(0L)).as("f2"))
    val chao1 = col("n_types").cast("double") +
      (col("f1") * (col("f1") - lit(1L))).cast("double") /
        (lit(2.0) * (col("f2") + lit(1L)).cast("double"))
    val coverage = lit(1.0) - col("f1").cast("double") / col("n_tokens").cast("double")
    spectrum.select(gCols ++ Seq(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
      round(chao1, 6).as("chao1"), round(coverage, 6).as("coverage")): _*)
  }

  /** Zipf-law fit per group: the log-log OLS of token frequency
    * against rank — the classic "is this corpus natural language"
    * screen (clean text sits near slope −1; templated/generated text
    * flattens or cliffs, and r² collapses on degenerate mixes):
    *
    *   slope, intercept, r² of  ln f(r) ~ ln r
    *
    * over the per-group frequency table. Returns
    * `(groups..., n_types, n_tokens, slope, intercept, r2)`, 6 dp;
    * groups with < 3 types (or no rank variance) emit nulls.
    *
    * Determinism: ranks come from a dense (freq desc, token asc)
    * row_number; both logs take INTEGER arguments and nano-quantize
    * per type; the five OLS moments accumulate as DECIMAL(38,0) — the
    * [[graft.ops.Regression]] discipline on log scale.
    *
    * Scale shape: one token-keyed counting exchange, one
    * group-partitioned sort window for ranks, one map-combined moment
    * rollup. Vocabulary-sized intermediate, never corpus-sized.
    */
  def zipfFit(docs: DataFrame, groupBy: Seq[String], text: Column): DataFrame = {
    require(groupBy.nonEmpty, "zipfFit needs group keys (lit(1) for global)")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val freqs = docs
      .select(gCols :+ explode(split(lower(text), "[^a-z0-9]+")).as("__w"): _*)
      .filter(col("__w") =!= "")
      .groupBy(gCols :+ col("__w"): _*)
      .agg(count(lit(1)).as("__f"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
      .orderBy(col("__f").desc, col("__w").asc)
    val ranked = freqs
      .withColumn("__r", row_number().over(W).cast("long"))
      .withColumn("__x", round(log(col("__r")) * lit(1e9), 0).cast("long").cast(dec))
      .withColumn("__y", round(log(col("__f")) * lit(1e9), 0).cast("long").cast(dec))
    val agg = ranked.groupBy(gCols: _*)
      .agg(count(lit(1)).as("n_types"),
        sum(col("__f")).as("n_tokens"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__x") * col("__y")).as("__sxy"))
    val nDec = col("n_types").cast(dec)
    val num = (nDec * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val dx = (nDec * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val dy = (nDec * col("__syy") - col("__sy") * col("__sy")).cast("double")
    val slope = num / dx
    val intercept =
      (col("__sy").cast("double") - slope * col("__sx").cast("double")) /
        col("n_types").cast("double") / lit(1e9)
    agg.select(
      gCols :+ col("n_types") :+ col("n_tokens")
        :+ when(col("n_types") >= 3 && dx > 0.0, round(slope, 6)).as("slope")
        :+ when(col("n_types") >= 3 && dx > 0.0, round(intercept, 6)).as("intercept")
        :+ when(col("n_types") >= 3 && dx > 0.0 && dy > 0.0,
          round(num * num / (dx * dy), 6)).as("r2"): _*)
  }

  /** Top-k vocabulary token coverage — the tokenizer-budget curve
    * beside [[zipfFit]]: what fraction of all corpus TOKENS do the k
    * most frequent types cover? The number a vocabulary/BPE size
    * decision actually reads (coverage at the candidate vocab sizes =
    * 1 − OOV mass under truncation), where Zipf's slope only implies
    * it. Returns one row per requested k:
    * `(k, n_types_used, covered_tokens, total_tokens, coverage)` —
    * `n_types_used` < k when the vocabulary is smaller than k.
    *
    * Determinism: counts are exact; coverage emits through the exact
    * integral-divide micro-quantization (round-half-up of
    * covered·1e6/total as an integer, then one /1e6) — no
    * cross-engine round(double, 6) tie exposure.
    *
    * Scale shape: one token-keyed counting exchange (vocabulary-sized),
    * a TakeOrdered top-max(k) — never a whole-vocabulary
    * single-partition sort — then a ≤max(k)-row cumulative window and
    * an O(|ks|) literal-array explode; corpus totals ride a 1-row
    * broadcast. The counting exchange feeds totals and top-k through
    * ReuseExchange, with no cache entry left behind.
    */
  def vocabCoverage(docs: DataFrame, text: Column, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks.max <= 1000000,
      s"ks must be in [1, 1e6]: $ks")
    val maxK = ks.max
    val freqs = docs
      .select(explode(split(lower(text), "[^a-z0-9]+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
    val totals = freqs.agg(sum(col("__f")).as("__total"))
    val W = org.apache.spark.sql.expressions.Window
      .orderBy(col("__f").desc, col("__w").asc)
    val ranked = freqs
      .orderBy(col("__f").desc, col("__w").asc).limit(maxK)
      .withColumn("__rk", row_number().over(W).cast("long"))
      .withColumn("__cum", sum(col("__f")).over(W.rowsBetween(Long.MinValue, 0)))
    val kArr = array(ks.sorted.map(k => lit(k.toLong)): _*)
    ranked
      .select(col("__rk"), col("__cum"),
        explode(filter(kArr, k => k >= col("__rk"))).as("k"))
      .groupBy(col("k"))
      .agg(max(col("__rk")).as("n_types_used"),
        max(col("__cum")).as("covered_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("k"), col("n_types_used"), col("covered_tokens"),
        col("__total").as("total_tokens"),
        (expr("(cast(covered_tokens as decimal(38,0)) * 2000000 + __total) " +
          "div (cast(__total as decimal(38,0)) * 2)")
          .cast("double") / lit(1e6)).as("coverage"))
      .orderBy(col("k"))
  }

  /** Heaps' law fit — vocabulary growth V(n) ≈ K·n^β, [[zipfFit]]'s
    * companion curve: how fast does a corpus keep minting new types as
    * documents accumulate? β near 1 means every batch is still novel
    * (dedup/boilerplate problems look like β too LOW); the fitted K, β
    * also forecast vocabulary (= hash-table, BPE, embedding-row) sizes
    * at 100× the corpus.
    *
    * "Arrival order" is a deterministic md5 bucket of the doc id
    * ([[graft.ops.Sampling.hashBucket]]'s convention) — prefix c holds
    * every doc whose bucket < B·2^{c−nCheckpoints}, so the growth curve
    * needs NO global ordering: per-checkpoint doc counts are
    * conditional counts over one scan, and per-checkpoint vocabulary
    * is a conditional count over each token's MINIMUM bucket. β comes
    * from log-log OLS over the (≤ nCheckpoints)-point table, ln terms
    * nano-quantized first (the [[zipfFit]] discipline).
    *
    * Returns one row: `(n_docs, n_types, n_points, beta, k_coef)` —
    * null fit when fewer than 3 nonempty prefixes.
    *
    * Scale shape: one doc scan → 1-row counts; one token explode into
    * a map-combined per-token min; two 1-row frames broadcast-joined;
    * OLS over a checkpoint-bounded table. No windows, no global sort.
    */
  def heapsLaw(docs: DataFrame, idCol: Column, text: Column,
               nCheckpoints: Int = 12): DataFrame = {
    require(nCheckpoints >= 3 && nCheckpoints <= 24,
      s"nCheckpoints out of range: $nCheckpoints")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val bits = 20
    val bSize = 1 << bits
    val base = docs.filter(idCol.isNotNull && text.isNotNull)
      .select(graft.ops.Sampling.hashBucket(idCol, bSize).as("__b"),
        text.as("__t"))
    val cuts = (1 to nCheckpoints).map(c => (bSize >> (nCheckpoints - c)).toLong)
    val docAggs = cuts.zipWithIndex.map { case (cut, i) =>
      sum(when(col("__b") < cut, 1L).otherwise(0L)).as(s"__nd$i")
    }
    val dAgg = base.agg(docAggs.head, docAggs.tail: _*)
    val tokMin = base
      .select(col("__b"), explode(split(lower(col("__t")), "[^a-z0-9]+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w")).agg(min(col("__b")).as("__mb"))
    val vAggs = cuts.zipWithIndex.map { case (cut, i) =>
      sum(when(col("__mb") < cut, 1L).otherwise(0L)).as(s"__v$i")
    }
    val vAgg = tokMin.agg(vAggs.head, vAggs.tail: _*)
    val pts = array(cuts.indices.map(i =>
      struct(col(s"__nd$i").as("nd"), col(s"__v$i").as("v"))): _*)
    val last = nCheckpoints - 1
    val withQ = dAgg.crossJoin(broadcast(vAgg))
      .select(col(s"__nd$last").as("n_docs"), col(s"__v$last").as("n_types"),
        explode(pts).as("__p"))
      .filter(col("__p.nd") > 0L && col("__p.v") > 0L)
      .select(col("n_docs"), col("n_types"),
        round(log(col("__p.nd").cast("double")) * lit(1e9), 0)
          .cast("long").cast(dec).as("__x"),
        round(log(col("__p.v").cast("double")) * lit(1e9), 0)
          .cast("long").cast(dec).as("__y"))
    val agg = withQ.groupBy(col("n_docs"), col("n_types"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"))
    val nDec = col("n_points").cast(dec)
    val num = (nDec * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val dx = (nDec * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val slope = num / dx
    val intercept =
      (col("__sy").cast("double") - slope * col("__sx").cast("double")) /
        col("n_points").cast("double") / lit(1e9)
    val ok = col("n_points") >= 3 && dx > 0.0
    agg.select(col("n_docs"), col("n_types"), col("n_points"),
      when(ok, round(slope, 6)).as("beta"),
      when(ok, round(exp(intercept), 6)).as("k_coef"))
  }

  /** Conditional bigram entropy — how predictable is each group's text
    * ONE TOKEN ahead? H(w₂|w₁) = −Σ p(w₁w₂)·ln p(w₂|w₁), reported
    * beside the unigram entropy H(w) it refines: template-heavy or
    * boilerplate-laden sources show H(w₂|w₁) collapsing far below
    * H(w), genuinely diverse prose keeps them close. Per group:
    * `(groups..., n_bigrams, h_unigram, h_cond, ppl_cond)` —
    * `ppl_cond = exp(H(w₂|w₁))` is the "effective branching factor"
    * (how many next-tokens the text really chooses among). Nulls when
    * a group has no bigrams.
    *
    * Determinism: bigram counts are exact; both entropy's per-cell
    * terms nano-quantize before the vocabulary-bounded sums (the
    * [[zipfFit]] discipline); marginals and totals ride windows over
    * the bigram CELL table, never raw rows ([[bigramPmi]]'s measured
    * shape).
    *
    * Scale shape: one row-local bigram explode into ONE map-combined
    * (group, w1, w2) aggregation; marginal/total windows and the
    * first-row unigram trick run over the vocab²-bounded cell table;
    * one group rollup.
    */
  def conditionalEntropy(docs: DataFrame, groupBy: Seq[String],
                         text: Column): DataFrame = {
    require(groupBy.nonEmpty, "conditionalEntropy needs group keys")
    val gCols = groupBy.map(col)
    val t = TextStats.tokens(text)
    val bigrams = docs.select(gCols :+ explode(zip_with(
        slice(t, lit(1), greatest(size(t) - 1, lit(0))),
        slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__p"): _*)
      .select(gCols :+ col("__p.w1").as("__w1") :+ col("__p.w2").as("__w2"): _*)
    val cells = bigrams.groupBy(gCols :+ col("__w1") :+ col("__w2"): _*)
      .agg(count(lit(1)).as("__c12"))
    val W = org.apache.spark.sql.expressions.Window
    val wG = W.partitionBy(gCols: _*)
    val wW1 = W.partitionBy(gCols :+ col("__w1"): _*)
    val wW1Ord = W.partitionBy(gCols :+ col("__w1"): _*).orderBy(col("__w2"))
    val ext = cells.select(gCols :+ col("__c12")
      :+ sum(col("__c12")).over(wW1).as("__c1")
      :+ sum(col("__c12")).over(wG).as("__N")
      :+ row_number().over(wW1Ord).as("__rn"): _*)
    val c12d = col("__c12").cast("double")
    val c1d = col("__c1").cast("double")
    val nD = col("__N").cast("double")
    val condTerm = round(c12d / nD * log(c12d / c1d) * lit(1e9), 0).cast("long")
    val uniTerm = when(col("__rn") === 1,
      round(c1d / nD * log(c1d / nD) * lit(1e9), 0).cast("long"))
    val agg = ext.groupBy(gCols: _*)
      .agg(sum(col("__c12")).as("n_bigrams"),
        sum(uniTerm).as("__hu"), sum(condTerm).as("__hc"))
    val hu = -(col("__hu").cast("double") / lit(1e9))
    val hc = -(col("__hc").cast("double") / lit(1e9))
    agg.select(gCols :+ col("n_bigrams")
      :+ round(hu, 6).as("h_unigram")
      :+ round(hc, 6).as("h_cond")
      :+ round(exp(hc), 6).as("ppl_cond"): _*)
  }

  /** Hill-number diversity profile — the three standard "effective
    * vocabulary sizes" per group: q0 = richness (types), q1 = exp(H)
    * (Shannon — types weighted by how evenly they're used), q2 =
    * 1/Σp² (inverse Simpson — dominated by the head). Reading the
    * profile left to right shows how top-heavy a source's vocabulary
    * is; a curation mix that looks balanced by q0 can be wildly
    * unbalanced by q2. Per group:
    * `(groups..., n_tokens, n_types, shannon, hill1, hill2)`.
    *
    * Determinism: token counts are exact; each p·ln p term
    * nano-quantizes before the vocabulary-bounded sum (the
    * [[zipfFit]] discipline); Σf² stays an exact decimal so hill2 =
    * T²/Σf² is one IEEE tree.
    *
    * Scale shape: one token explode → (group, token) map-combined
    * count, a group-bounded totals broadcast back onto the count
    * table, and two group-keyed rollups. No windows.
    */
  def hillNumbers(docs: DataFrame, groupBy: Seq[String], text: Column): DataFrame = {
    require(groupBy.nonEmpty, "hillNumbers needs group keys (lit(1) for global)")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val freqs = docs
      .select(gCols :+ explode(split(lower(text), "[^a-z0-9]+")).as("__w"): _*)
      .filter(col("__w") =!= "")
      .groupBy(gCols :+ col("__w"): _*)
      .agg(count(lit(1)).as("__f"))
    val totals = freqs.groupBy(gCols: _*)
      .agg(count(lit(1)).as("n_types"), sum(col("__f")).as("n_tokens"),
        sum(col("__f").cast(dec) * col("__f").cast(dec)).as("__f2"))
    val p = col("__f").cast("double") / col("__T").cast("double")
    val hTerm = round(p * log(p) * lit(1e9), 0).cast("long")
    val hAgg = freqs
      .join(broadcast(totals.select(gCols :+ col("n_tokens").as("__T"): _*)),
        groupBy)
      .groupBy(gCols: _*).agg(sum(hTerm).as("__hsum"))
    val h = -(col("__hsum").cast("double") / lit(1e9))
    val hill2 = col("n_tokens").cast("double") * col("n_tokens").cast("double") /
      col("__f2").cast("double")
    totals.join(broadcast(hAgg), groupBy)
      .select(gCols :+ col("n_tokens") :+ col("n_types")
        :+ round(h, 6).as("shannon")
        :+ round(exp(h), 6).as("hill1")
        :+ round(hill2, 6).as("hill2"): _*)
  }

  /** Token burstiness — variance-to-mean ratio of each token's
    * per-document count over ALL documents (absences count as zeros):
    * VMR ≈ 1 is Poisson scatter (function words), VMR ≫ 1 is a bursty
    * topical term that floods the documents it enters. The
    * vocabulary-level complement of [[TextStats.repetitionScore]]'s
    * within-document repetition — and a cheap topical-keyword extractor
    * that needs no reference corpus. Emits the top `topK` bursty
    * tokens: `(token, n_docs, total_count, mean_per_doc, vmr)`.
    *
    * Zeros need no explode: with Σc and Σc² over PRESENT docs, the
    * all-docs variance is (Σc² − (Σc)²/N)/(N−1) — absences contribute
    * nothing to either power sum.
    *
    * Determinism: exact integer power sums; mean/VMR one fixed IEEE
    * tree; the top-k orders by the UNROUNDED vmr with the token as
    * tie-break, so both engines cut the same set.
    *
    * Scale shape: one token explode → (doc, token) map-combined count
    * → token-keyed rollup, a 1-row doc-count broadcast, and a global
    * top-k (TakeOrderedAndProject — never a full sort). `minDocs`
    * prunes the hapax tail before the rollup leaves the shuffle.
    */
  def burstiness(docs: DataFrame, idCol: Column, text: Column,
                 minDocs: Int = 5, topK: Int = 20): DataFrame = {
    require(minDocs >= 1 && topK >= 1, s"bad params: $minDocs/$topK")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d = docs.filter(idCol.isNotNull && text.isNotNull)
    val nDocs = d.agg(count(lit(1)).as("__N"))
    val perDoc = d
      .select(idCol.as("__id"), explode(split(lower(text), "[^a-z0-9]+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__id"), col("__w")).agg(count(lit(1)).as("__c"))
    val tok = perDoc.groupBy(col("__w"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("__sc"),
        sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__sc2"))
      .filter(col("n_docs") >= minDocs)
    val j = tok.crossJoin(broadcast(nDocs))
    val nD = col("__N").cast("double")
    val scD = col("__sc").cast("double")
    val mean = scD / nD
    val vmr = when(col("__N") >= 2,
      ((col("__sc2").cast("double") - scD * scD / nD) / (nD - lit(1.0))) / mean)
    j.select(col("__w").as("token"), col("n_docs"),
        col("__sc").as("total_count"),
        round(mean, 6).as("mean_per_doc"), round(vmr, 6).as("vmr"),
        vmr.as("__o"))
      .orderBy(col("__o").desc, col("token").asc)
      .limit(topK)
      .drop("__o")
  }

  /** RAKE keyword extraction (Rose et al. 2010): the unsupervised
    * per-document keyphrase step every corpus card / search-index /
    * topic-label pipeline wants before anything model-based. Candidate
    * phrases are maximal token runs broken at stopwords AND at
    * punctuation (both delimit, per the paper); each word scores
    * deg(w)/freq(w) WITHIN the document (deg = Σ length of the phrases
    * its occurrences sit in — co-occurrence favors multi-word terms),
    * and a phrase scores the sum of its words. Emits the TOP phrase per
    * document: `(id, phrase, n_words, score_nanos)` — ties break to the
    * lexicographically smallest phrase.
    *
    * Determinism: word scores are integer nanos ((1e9·deg) div freq),
    * phrase scores exact long sums; phrase text reassembles through
    * array_sort on (position, word) structs, so collect order can't
    * leak in.
    *
    * Scale shape: tokenize → posexplode, then every window and
    * aggregation is keyed by the document id (phrase segmentation,
    * per-word deg/freq, phrase rollup, top-1) — one doc-keyed exchange
    * family, no whole-frame anything, no joins beyond the explode.
    */
  def rakeTopPhrase(docs: DataFrame, idCol: String, text: Column,
                    stopwords: Seq[String]): DataFrame = {
    require(stopwords.nonEmpty, "RAKE needs a stopword list (phrase delimiters)")
    val W = org.apache.spark.sql.expressions.Window
    // punctuation breaks phrases (the RAKE convention), so tokenization
    // is two-level: punctuation-delimited fragments, then whitespace
    // tokens within each — a phrase never crosses either boundary
    val frags = docs.select(col(idCol).as("__id"),
      posexplode(split(lower(text), "[^a-z0-9\\s]+")).as(Seq("__fi", "__frag")))
    val toks = frags
      .select(col("__id"), col("__fi"),
        posexplode(split(col("__frag"), "\\s+")).as(Seq("__pos", "__w")))
      .filter(col("__w") =!= "")
      .withColumn("__stop", col("__w").isin(stopwords: _*))
    val wDoc = W.partitionBy(col("__id")).orderBy(col("__fi"), col("__pos"))
    val seg = toks
      .withColumn("__sr",
        sum(when(col("__stop"), 1L).otherwise(0L))
          .over(wDoc.rowsBetween(Long.MinValue, 0)))
      .filter(!col("__stop"))
    // phrase key: fragment AND stopword-run boundaries both delimit
    val wPhrase = W.partitionBy(col("__id"), col("__fi"), col("__sr"))
    val wWord = W.partitionBy(col("__id"), col("__w"))
    val scored = seg
      .withColumn("__plen", count(lit(1)).over(wPhrase))
      .withColumn("__freq", count(lit(1)).over(wWord))
      .withColumn("__deg", sum(col("__plen")).over(wWord))
      .withColumn("__ws", expr("(1000000000L * __deg) div __freq"))
    val phrases = scored
      .groupBy(col("__id"), col("__fi"), col("__sr"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__w")))),
          s => s.getField("__w"))).as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("__ws")).as("score_nanos"))
    val top = W.partitionBy(col("__id"))
      .orderBy(col("score_nanos").desc, col("phrase").asc)
    phrases
      .withColumn("__rn", row_number().over(top))
      .filter(col("__rn") === 1)
      .select(col("__id").as(idCol), col("phrase"), col("n_words"),
        col("score_nanos"))
  }
}
