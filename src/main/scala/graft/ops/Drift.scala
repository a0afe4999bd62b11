package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution-drift measurement between two dataset slices — the
  * monitoring step that catches a feature or corpus-statistic shift
  * between a reference snapshot (training corpus, last week's crawl) and
  * a current one before the shift poisons downstream training.
  *
  * Not in the reference; engine extension (SURVEY §2.11).
  *
  * Scale design: each side collapses to per-bin counts with one
  * map-side-combined aggregation over EXPLICIT cutpoints (no
  * distributed quantile job hiding inside a metric — pair with
  * [[Binning.cutpoints]] or [[Profile]] sketches to derive cuts once,
  * offline). The join/window after aggregation touches `bins + 1` rows,
  * so the single-partition window there is bounded by the bin count,
  * never by data size.
  */
object Drift {

  /** Bin index for a value against ascending cutpoints: number of cuts
    * `<=` the value, i.e. 0 for v < cuts(0), `cuts.size` for
    * v >= cuts.last. Null values get bin null (excluded by [[psi]]).
    */
  def binIndex(value: Column, cutpoints: Seq[Double]): Column = {
    require(cutpoints.nonEmpty && cutpoints == cutpoints.sorted,
      "cutpoints must be non-empty and ascending")
    // Codegen-friendly HOF over a literal array — no UDF, no shuffle.
    // The isNotNull guard delivers the documented null bin: the HOF's
    // null-predicate elements would otherwise silently land in bin 0.
    when(value.isNotNull, size(filter(array(cutpoints.map(lit): _*), c => value >= c)))
  }

  /** Population Stability Index between `ref` and `cur` on `valueCol`.
    *
    * Returns one row per bin: raw counts, Laplace-smoothed proportions
    * (`(n + eps) / (total + eps * nBins)` — empty bins never divide by
    * zero), and the bin's PSI term `(cur_p - ref_p) * ln(cur_p / ref_p)`.
    * Total PSI = sum of `psi_term` (rule of thumb: < 0.1 stable,
    * > 0.25 drifted). Null values are excluded from both sides.
    *
    * Every bin in [0, cutpoints.size] is present in the output even if
    * empty on both sides, so reports align across runs.
    */
  def psi(
      ref: DataFrame,
      cur: DataFrame,
      valueCol: String,
      cutpoints: Seq[Double],
      eps: Double = 0.5,
  ): DataFrame = {
    require(eps > 0, "eps must be positive (it guards the log)")
    val nBins = cutpoints.size + 1
    def sideCounts(df: DataFrame, alias: String): DataFrame =
      df.filter(col(valueCol).isNotNull)
        .select(binIndex(col(valueCol), cutpoints).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(alias))
    val spark = ref.sparkSession
    val allBins = spark.range(nBins).select(col("id").cast("int").as("bin"))
    val joined = allBins
      .join(sideCounts(ref, "ref_n"), Seq("bin"), "left")
      .join(sideCounts(cur, "cur_n"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    // Post-aggregation: at most nBins rows — the whole-frame window here
    // is bounded by the bin count, not the data.
    val w = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val refP = (col("ref_n") + eps) / (sum(col("ref_n")).over(w) + eps * nBins)
    val curP = (col("cur_n") + eps) / (sum(col("cur_n")).over(w) + eps * nBins)
    joined
      .withColumn("ref_p", refP)
      .withColumn("cur_p", curP)
      .withColumn("psi_term", (col("cur_p") - col("ref_p")) * log(col("cur_p") / col("ref_p")))
      .orderBy("bin")
  }

  /** Per-DIMENSION PSI between two populations of embedding vectors —
    * drift monitoring for embedding pipelines (model swaps, encoder
    * version bumps, upstream text-cleaning changes all move per-dimension
    * distributions long before any downstream metric notices). One
    * posexplode pass per side produces (dim, bin) counts map-side
    * combined; every (dim, bin) cell is present (dims × bins spine) so
    * reports align across runs; per-cell PSI terms quantize to integer
    * nano-units before the per-dim sums (exact at any parallelism — the
    * few-term double sum would still be partial-order dependent), and
    * the emitted per-dim PSI rounds to 6 dp.
    *
    * Returns one row per dimension: `(dim, ref_n, cur_n, psi)` where
    * ref_n/cur_n are the per-dim value counts (= non-null vector counts).
    */
  def psiPerDim(ref: DataFrame, cur: DataFrame, vecCol: String,
                cutpoints: Seq[Double], eps: Double = 0.5): DataFrame = {
    require(eps > 0, "eps must be positive (it guards the log)")
    val nBins = cutpoints.size + 1
    def sideCounts(df: DataFrame, alias: String): DataFrame =
      df.filter(col(vecCol).isNotNull)
        .select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
        .select(col("dim"), binIndex(col("__x").cast("double"), cutpoints).as("bin"))
        .groupBy(col("dim"), col("bin")).agg(count(lit(1)).as(alias))
    val spark = ref.sparkSession
    val refCounts = sideCounts(ref, "__rn")
    // dims come from the aggregated counts (≤ dims×bins rows, reusing its
    // exchange) — NOT from a second corpus-sized explode of the ref side
    val dims = refCounts.select("dim").distinct()
    val spine = dims.crossJoin(
      spark.range(nBins).select(col("id").cast("int").as("bin")))
    val joined = spine
      .join(refCounts, Seq("dim", "bin"), "left")
      .join(sideCounts(cur, "__cn"), Seq("dim", "bin"), "left")
      .select(col("dim"), col("bin"),
        coalesce(col("__rn"), lit(0L)).as("__rn"),
        coalesce(col("__cn"), lit(0L)).as("__cn"))
    // per-dim totals: ≤ nBins rows per window partition, bounded by construction
    val w = Window.partitionBy(col("dim"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val refP = (col("__rn") + lit(eps)) / (sum(col("__rn")).over(w) + lit(eps * nBins))
    val curP = (col("__cn") + lit(eps)) / (sum(col("__cn")).over(w) + lit(eps * nBins))
    joined
      .withColumn("__term", (curP - refP) * log(curP / refP))
      .groupBy(col("dim"))
      .agg(sum(col("__rn")).as("ref_n"), sum(col("__cn")).as("cur_n"),
        sum(round(col("__term") * lit(1e9), 0).cast("long")).as("__psi_nano"))
      .select(col("dim"), col("ref_n"), col("cur_n"),
        round(col("__psi_nano").cast("double") / lit(1e9), 6).as("psi"))
  }

  /** Categorical PSI between two populations on a key column — input
    * drift for discrete features (tokens, sources, event types, language
    * tags). The category set is the reference side's top-`topN` keys by
    * count (deterministic ties: smaller key wins) plus an OTHER bucket,
    * so the report's rows are stable run over run even as tail categories
    * churn. Same smoothing and nano-quantized term discipline as
    * [[psi]]/[[psiPerDim]].
    *
    * Returns `(category, ref_n, cur_n, psi_term)` rows (6-dp terms,
    * ordered by category) — sum `psi_term` for the total, or read
    * per-category contributions directly.
    */
  def psiCategorical(ref: DataFrame, cur: DataFrame, keyCol: String,
                     topN: Int, eps: Double = 0.5): DataFrame = {
    require(topN > 0, "topN must be positive")
    val refC = ref.groupBy(col(keyCol).as("category"))
      .agg(count(lit(1)).as("__rn"))
    val curC = cur.groupBy(col(keyCol).as("category"))
      .agg(count(lit(1)).as("__cn"))
    // the reference's top-N defines the category rows — bounded by topN
    val cats = refC.orderBy(col("__rn").desc, col("category")).limit(topN)
      .select(col("category"))
    def bucketed(counts: DataFrame, alias: String): DataFrame =
      counts.join(cats.withColumn("__keep", lit(true)), Seq("category"), "left")
        .select(when(col("__keep"), col("category")).otherwise(lit("__OTHER__"))
          .as("category"), col(alias))
        .groupBy(col("category")).agg(sum(col(alias)).as(alias))
    val joined = bucketed(refC, "__rn")
      .join(bucketed(curC, "__cn"), Seq("category"), "outer")
      .select(col("category"),
        coalesce(col("__rn"), lit(0L)).as("ref_n"),
        coalesce(col("__cn"), lit(0L)).as("cur_n"))
    // ≤ topN + 1 rows — the whole-frame window is bounded by construction
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nCats = count(lit(1)).over(w).cast("double")
    val refP = (col("ref_n") + lit(eps)) / (sum(col("ref_n")).over(w) + lit(eps) * nCats)
    val curP = (col("cur_n") + lit(eps)) / (sum(col("cur_n")).over(w) + lit(eps) * nCats)
    joined
      .withColumn("psi_term", round((curP - refP) * log(curP / refP), 6))
  }

  /** Two-sample Kolmogorov-Smirnov statistic between `a` and `b` on
    * `valueCol` — the binning-free drift test (PSI needs cutpoints; KS
    * compares the full empirical CDFs):
    *
    *   D = max over observed v of |F_a(v) − F_b(v)|
    *     = max |C_a(v)·n_b − C_b(v)·n_a| / (n_a·n_b)
    *
    * kept in INTEGER arithmetic until one final division, so D is
    * bit-deterministic (cumulative float CDFs never are).
    *
    * Scale shape: both sides reduce to per-distinct-value counts with
    * one map-combined aggregation; the global cumulative counts come
    * from [[Ids.withRunningTotals]] (range repartition + bounded offset
    * windows — NEVER a whole-frame `Window.orderBy`); the max is one
    * 1-row aggregate. Data moved after the first aggregation is
    * distinct-value-sized. Null values are excluded (a CDF has no place
    * for them); count them separately if null drift matters.
    *
    * @return single row (n_a, n_b, d_num, ks) with ks = d_num/(n_a·n_b)
    */
  /** Jensen-Shannon divergence between two categorical distributions —
    * the bounded, symmetric drift number PSI isn't (JSD ∈ [0, ln 2],
    * defined even when categories vanish entirely, so it needs no
    * smoothing): with p = a/N_a, q = b/N_b and mixture m = (p+q)/2,
    *
    *   JSD = ½ Σ p·ln(p/m) + ½ Σ q·ln(q/m)
    *
    * Returns one row `(n_ref, n_cur, n_categories, jsd, jsd_norm)`
    * (norm = jsd/ln 2 ∈ [0,1]), 6 dp.
    *
    * Determinism: the log ratios reduce to INTEGER-argument lns —
    * p/m = 2·a·N_b / (a·N_b + b·N_a) — so every per-category term is a
    * fixed IEEE tree over exact longs, nano-quantized before the sum
    * (the psi/chi2 discipline). Zero-count sides contribute exact 0.
    *
    * Scale shape: both inputs reduce through ONE union-tagged
    * map-combined aggregation to category rows; totals ride a 1-row
    * broadcast; the rollup touches one row per category.
    */
  def jsDivergence(ref: DataFrame, cur: DataFrame, valueCol: String): DataFrame = {
    val counts = ref.select(col(valueCol).as("__v"), lit(1L).as("__a"), lit(0L).as("__b"))
      .unionAll(cur.select(col(valueCol).as("__v"), lit(0L), lit(1L)))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v"))
      .agg(sum(col("__a")).as("__ca"), sum(col("__b")).as("__cb"))
    val totals = counts.agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    // p/m and q/m as integer-product log ratios. The products run in
    // DECIMAL — long×long overflows past ~3e9 counts a side; decimal(18,0)
    // operands give exact products to 1e18 counts per side (log takes the
    // wider type, so the IEEE tree is unchanged where both representations
    // are exact)
    val d18 = DecimalType(18, 0)
    val aNb = col("__ca").cast(d18) * col("__nb").cast(d18)
    val bNa = col("__cb").cast(d18) * col("__na").cast(d18)
    val refTerm = when(col("__ca") > 0L,
      round(col("__ca").cast("double") / col("__na").cast("double")
        * (log(lit(2L) * aNb) - log(aNb + bNa)) * lit(1e9), 0).cast("long"))
      .otherwise(0L)
    val curTerm = when(col("__cb") > 0L,
      round(col("__cb").cast("double") / col("__nb").cast("double")
        * (log(lit(2L) * bNa) - log(aNb + bNa)) * lit(1e9), 0).cast("long"))
      .otherwise(0L)
    counts.crossJoin(broadcast(totals))
      .select(col("__na"), col("__nb"), refTerm.as("__tr"), curTerm.as("__tc"))
      .groupBy(col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("__tr")).as("__sr"), sum(col("__tc")).as("__sc"))
      .select(col("__na").as("n_ref"), col("__nb").as("n_cur"),
        col("n_categories"),
        round((col("__sr") + col("__sc")).cast("double") / lit(2e9), 6).as("jsd"),
        round((col("__sr") + col("__sc")).cast("double") / lit(2e9)
          / lit(math.log(2.0)), 6).as("jsd_norm"))
  }

  /** Total variation distance between two categorical distributions —
    * the EXACT companion of [[jsDivergence]]: TVD = ½ Σ|p_v − q_v| is
    * the largest possible difference in probability either side can
    * assign to any event set, and unlike JSD it needs NO logarithm:
    *
    *   TVD = Σ_v |c_a(v)·N_b − c_b(v)·N_a| / (2·N_a·N_b)
    *
    * — the cleared-integer spelling makes every term exact, so the
    * headline number is pure integer arithmetic until one final
    * division. One row: `(n_ref, n_cur, n_categories, tvd)`; TVD ∈
    * [0, 1], null when either side is empty.
    *
    * Scale shape: one category-keyed map-combined aggregation, a
    * 1-row totals broadcast, one rollup — the [[jsDivergence]] plan
    * with the nano-quantized log terms replaced by exact decimals.
    */
  def totalVariation(ref: DataFrame, cur: DataFrame,
                     valueCol: String): DataFrame = {
    val counts = ref.select(col(valueCol).as("__v"), lit(1L).as("__a"), lit(0L).as("__b"))
      .unionAll(cur.select(col(valueCol).as("__v"), lit(0L), lit(1L)))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v"))
      .agg(sum(col("__a")).as("__ca"), sum(col("__b")).as("__cb"))
    val totals = counts.agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    val d18 = DecimalType(18, 0)
    val term = abs(col("__ca").cast(d18) * col("__nb").cast(d18) -
      col("__cb").cast(d18) * col("__na").cast(d18))
    counts.crossJoin(broadcast(totals))
      .select(col("__na"), col("__nb"), term.as("__t"))
      .groupBy(col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_categories"), sum(col("__t")).as("__s"))
      .select(col("__na").as("n_ref"), col("__nb").as("n_cur"),
        col("n_categories"),
        when(col("__na") > 0 && col("__nb") > 0,
          round(col("__s").cast("double")
            / (lit(2.0) * col("__na").cast("double")
              * col("__nb").cast("double")), 6)).as("tvd"))
  }

  /** Pairwise vocabulary overlap between corpus slices — the set-level
    * comparison [[psiCategorical]]'s distributional view can't give
    * (two sources can share every token yet differ in mix, or share
    * none): for every slice pair (a < b),
    *
    *   (n_a, n_b, n_common, jaccard, containment_a, containment_b)
    *
    * over DISTINCT tokens, 6 dp. Containment is directional — a small
    * curated slice fully inside a crawl shows containment_a = 1 with a
    * tiny jaccard, exactly the signal dedup planning needs. Pairs with
    * ZERO shared tokens are omitted (the pair spine would need a
    * group×group cross join; with k slices the caller knows the missing
    * pairs are empty).
    *
    * Scale shape: one distinct over (slice, token), a token-keyed
    * self-join whose fanout is the per-token slice count (≤ k, never
    * corpus-sized), and slice-count-bounded size joins.
    */
  def vocabularyOverlap(df: DataFrame, groupCol: String,
                        tokenCol: String): DataFrame = {
    // vocabulary×groups-bounded and read three times (sizes + both
    // self-join sides): materialize once so the upstream token explode
    // and distinct never replay per reference
    val d = df.select(col(groupCol).as("__g"), col(tokenCol).as("__t"))
      .filter(col("__t").isNotNull).distinct().localCheckpoint()
    vocabularyOverlapOn(d)
  }

  /** [[vocabularyOverlap]] over an input that is ALREADY a distinct,
    * materialized `(group, token)` table (r15, ADVICE r14): callers that
    * dedup+checkpoint once for several consumers (q_kmv_overlap shares
    * one tokenize+distinct between the sketch and the exact overlap)
    * skip the redundant second full shuffle + materialization the public
    * entry would pay. Null tokens are dropped as there (a narrow filter),
    * so they never count toward a group's vocabulary size.
    */
  private[graft] def vocabularyOverlapPreDeduped(
      df: DataFrame, groupCol: String, tokenCol: String): DataFrame =
    vocabularyOverlapOn(
      df.select(col(groupCol).as("__g"), col(tokenCol).as("__t"))
        .filter(col("__t").isNotNull))

  private def vocabularyOverlapOn(d: DataFrame): DataFrame = {
    val sizes = d.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val a = d.toDF("__ga", "__t")
    val b = d.toDF("__gb", "__t")
    val inter = a.join(b, Seq("__t"))
      .filter(col("__ga") < col("__gb"))
      .groupBy(col("__ga"), col("__gb"))
      .agg(count(lit(1)).as("n_common"))
    val cD = col("n_common").cast("double")
    inter
      .join(sizes.toDF("__ga", "__na"), Seq("__ga"))
      .join(sizes.toDF("__gb", "__nb"), Seq("__gb"))
      .select(col("__ga").as("group_a"), col("__gb").as("group_b"),
        col("__na").as("n_a"), col("__nb").as("n_b"), col("n_common"),
        round(cD / (col("__na") + col("__nb") - col("n_common")).cast("double"), 6)
          .as("jaccard"),
        round(cD / col("__na").cast("double"), 6).as("containment_a"),
        round(cD / col("__nb").cast("double"), 6).as("containment_b"))
  }

  /** Per-group two-sample KS — [[ksStatistic]] fanned out across group
    * keys (per-segment drift screens, the input table a multiple-testing
    * correction like [[graft.ops.Stats.benjaminiHochberg]] expects):
    * one row per group,
    *
    *   (groups..., n_a, n_b, d_num, ks, p)
    *
    * with the same integer D = max|C_a·n_b − C_b·n_a| formulation and
    * the asymptotic p ≈ min(1, 2·exp(−2·m·d²)), m = n_a·n_b/(n_a+n_b)
    * — a fixed IEEE tree over the exact integers (the repo's ln/exp
    * portability contract), 6 dp.
    *
    * Scale shape: one (groups, value)-keyed map-combined aggregation,
    * then cumulative/total windows PARTITIONED BY the group keys whose
    * frames hold distinct VALUES (value-cardinality-bounded, never a
    * whole-frame window), and a per-group max rollup. Groups missing a
    * side entirely emit null d/ks/p (no distribution to compare).
    */
  def ksStatisticGrouped(df: DataFrame, groupBy: Seq[String],
                         inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "ksStatisticGrouped needs group keys (use ksStatistic for the global test)")
    val gCols = groupBy.map(col)
    val counts = df
      .select(gCols :+ value.as("__v")
        :+ when(inA, 1L).otherwise(0L).as("__ia")
        :+ when(inB, 1L).otherwise(0L).as("__ib"): _*)
      .filter(col("__v").isNotNull && (col("__ia") === 1L || col("__ib") === 1L))
      .groupBy(gCols :+ col("__v"): _*)
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val wCum = W.orderBy(col("__v")).rowsBetween(Long.MinValue, 0)
    val cum = counts.select(
      gCols
        :+ sum(col("__ca")).over(wCum).as("__cca")
        :+ sum(col("__cb")).over(wCum).as("__ccb")
        :+ sum(col("__ca")).over(W).as("__na")
        :+ sum(col("__cb")).over(W).as("__nb"): _*)
    val agg = cum
      .select(gCols :+ col("__na") :+ col("__nb")
        :+ abs(col("__cca") * col("__nb") - col("__ccb") * col("__na")).as("__d"): _*)
      .groupBy(gCols :+ col("__na").as("n_a") :+ col("__nb").as("n_b"): _*)
      .agg(max(col("__d")).as("d_num"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val d = col("d_num").cast("double") / (naD * nbD)
    val p = least(lit(1.0),
      lit(2.0) * exp(lit(-2.0) * (naD * nbD / (naD + nbD)) * d * d))
    agg.select(
      gCols :+ col("n_a") :+ col("n_b") :+ col("d_num")
        :+ when(col("n_a") >= 1 && col("n_b") >= 1, round(d, 6)).as("ks")
        :+ when(col("n_a") >= 1 && col("n_b") >= 1, round(p, 6)).as("p"): _*)
  }

  /** Two-sample Kuiper statistic per group — [[ksStatisticGrouped]]'s
    * rotation-honest sibling: V = D⁺ + D⁻ (the largest ECDF gap in
    * EACH direction, summed), which weights tails and center equally
    * and is invariant to cyclic shifts — the right screen for
    * time-of-day / phase-like values where KS systematically
    * under-reads tail drift. Per group:
    * `(groups..., n_a, n_b, dplus_num, dminus_num, v)` with the two
    * directed gaps as EXACT cleared integers
    * (max(C_a·n_b − C_b·n_a), max of the negation) and V one IEEE
    * division, 6 dp.
    *
    * Scale shape: identical to [[ksStatisticGrouped]] — one
    * (group, value)-keyed map-combined aggregation, cumulative windows
    * over the DISTINCT-VALUE table, a group rollup.
    */
  def kuiperGrouped(df: DataFrame, groupBy: Seq[String],
                    inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty,
      "kuiperGrouped needs group keys (use a constant column for a global test)")
    val gCols = groupBy.map(col)
    val counts = df
      .select(gCols :+ value.as("__v")
        :+ when(inA, 1L).otherwise(0L).as("__ia")
        :+ when(inB, 1L).otherwise(0L).as("__ib"): _*)
      .filter(col("__v").isNotNull && (col("__ia") === 1L || col("__ib") === 1L))
      .groupBy(gCols :+ col("__v"): _*)
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val wCum = W.orderBy(col("__v")).rowsBetween(Long.MinValue, 0)
    val cum = counts.select(
      gCols
        :+ sum(col("__ca")).over(wCum).as("__cca")
        :+ sum(col("__cb")).over(wCum).as("__ccb")
        :+ sum(col("__ca")).over(W).as("__na")
        :+ sum(col("__cb")).over(W).as("__nb"): _*)
    val gap = col("__cca") * col("__nb") - col("__ccb") * col("__na")
    val agg = cum
      .select(gCols :+ col("__na") :+ col("__nb")
        :+ greatest(gap, lit(0L)).as("__dp")
        :+ greatest(-gap, lit(0L)).as("__dm"): _*)
      .groupBy(gCols :+ col("__na").as("n_a") :+ col("__nb").as("n_b"): _*)
      .agg(max(col("__dp")).as("dplus_num"), max(col("__dm")).as("dminus_num"))
    val v = (col("dplus_num") + col("dminus_num")).cast("double") /
      (col("n_a").cast("double") * col("n_b").cast("double"))
    agg.select(
      gCols :+ col("n_a") :+ col("n_b") :+ col("dplus_num") :+ col("dminus_num")
        :+ when(col("n_a") >= 1 && col("n_b") >= 1, round(v, 6)).as("v"): _*)
  }

  /** Two-sample Cramér-von Mises criterion per group —
    * [[ksStatisticGrouped]]'s whole-curve companion: where KS reads the
    * single largest ECDF gap, CvM integrates the SQUARED gap over the
    * pooled sample, so many small persistent shifts register where KS
    * sees only the one peak. The pooled-ECDF integral form:
    *
    *   ω² = (n·m/N²) · Σ_v (w_v/N) · (F_n(v) − G_m(v))²,  N = n+m
    *      = U / (n·m·N³),   U = Σ_v w_v·(cca_v·m − ccb_v·n)²
    *
    * Determinism: U is an EXACT integer (cumulative counts × totals,
    * squared, weighted by pooled multiplicity w_v, accumulated as
    * DECIMAL) — one IEEE division at the end, no per-term quantization
    * at all.
    *
    * Scale shape: identical to [[ksStatisticGrouped]] — one
    * (group, value)-keyed map-combined aggregation, cumulative windows
    * over the DISTINCT-VALUE table, a group rollup.
    */
  def cramerVonMisesGrouped(df: DataFrame, groupBy: Seq[String],
                            inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty, "cramerVonMisesGrouped needs group keys")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val counts = df
      .select(gCols :+ value.as("__v")
        :+ when(inA, 1L).otherwise(0L).as("__ia")
        :+ when(inB, 1L).otherwise(0L).as("__ib"): _*)
      .filter(col("__v").isNotNull && (col("__ia") === 1L || col("__ib") === 1L))
      .groupBy(gCols :+ col("__v"): _*)
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val wCum = W.orderBy(col("__v")).rowsBetween(Long.MinValue, 0)
    val cum = counts.select(
      gCols :+ col("__ca") :+ col("__cb")
        :+ sum(col("__ca")).over(wCum).as("__cca")
        :+ sum(col("__cb")).over(wCum).as("__ccb")
        :+ sum(col("__ca")).over(W).as("__na")
        :+ sum(col("__cb")).over(W).as("__nb"): _*)
    val delta = col("__cca") * col("__nb") - col("__ccb") * col("__na")
    val agg = cum
      .select(gCols :+ col("__na") :+ col("__nb")
        :+ ((col("__ca") + col("__cb")).cast(dec)
          * delta.cast(dec) * delta.cast(dec)).as("__u"): _*)
      .groupBy(gCols :+ col("__na").as("n_a") :+ col("__nb").as("n_b"): _*)
      .agg(sum(col("__u")).as("__uu"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = (col("n_a") + col("n_b")).cast("double")
    agg.select(
      gCols :+ col("n_a") :+ col("n_b")
        :+ when(col("n_a") >= 1 && col("n_b") >= 1,
          round(col("__uu").cast("double") / (naD * nbD * nD * nD * nD), 6))
          .as("cvm"): _*)
  }

  /** Two-sample Anderson–Darling per group — the TAIL-weighted member
    * of the ECDF trio: KS reads the single largest gap, CvM integrates
    * the squared gap uniformly, AD divides each squared gap by
    * B(N−B)/N² so deviations in the DISTRIBUTION TAILS (where B/N is
    * near 0 or 1) count most — the test that fires when two samples
    * share a centre but differ in extremes. Scholz–Stephens (1987)
    * k = 2 discrete form (ties collapse onto the pooled distinct-value
    * table; for two samples both per-sample terms coincide, giving):
    *
    *   A² = (1/n_a + 1/n_b)/N · Σ_{v < v_max} h_v·D_v² / (B_v·(N−B_v)),
    *   D_v = N·M_v − n_a·B_v
    *
    * with h_v the pooled multiplicity, M_v / B_v the sample-a / pooled
    * cumulative counts, and the maximal value excluded (its term is
    * 0/0 by construction). Returns `(groupBy..., n_a, n_b, a2)`;
    * a2 null when either sample is empty.
    *
    * Determinism: D_v², h_v, B_v are exact integers (DECIMAL
    * products); each per-value term is ONE IEEE division of exact
    * integers, nano-quantized before the exact group sum, and the
    * final (1/n_a + 1/n_b)/N scaling is a fixed tree — 6 dp.
    *
    * Scale shape: the [[ksStatisticGrouped]] contract — one
    * (group, value)-keyed map-combined aggregation, cumulative windows
    * over the DISTINCT-VALUE table (bounded by the quantization
    * domain), one group rollup.
    */
  def andersonDarling2(df: DataFrame, groupBy: Seq[String],
                       inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty, "andersonDarling2 needs group keys")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val counts = df
      .select(gCols :+ value.as("__v")
        :+ when(inA, 1L).otherwise(0L).as("__ia")
        :+ when(inB, 1L).otherwise(0L).as("__ib"): _*)
      .filter(col("__v").isNotNull && (col("__ia") === 1L || col("__ib") === 1L))
      .groupBy(gCols :+ col("__v"): _*)
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val wCum = W.orderBy(col("__v")).rowsBetween(Long.MinValue, 0)
    val cum = counts.select(
      gCols :+ col("__ca") :+ col("__cb")
        :+ sum(col("__ca")).over(wCum).as("__cca")
        :+ sum(col("__cb")).over(wCum).as("__ccb")
        :+ sum(col("__ca")).over(W).as("__na")
        :+ sum(col("__cb")).over(W).as("__nb"): _*)
    val nTot = col("__na") + col("__nb")
    val bV = col("__cca") + col("__ccb")
    val dV = (nTot * col("__cca") - col("__na") * bV).cast(dec)
    val hV = (col("__ca") + col("__cb")).cast(dec)
    // one IEEE division of exact integers per distinct value, then
    // nano-quantize so the group sum is exact at any parallelism
    val term = (hV * dV * dV).cast("double") /
      (bV.cast(dec) * (nTot - bV).cast(dec)).cast("double")
    val agg = cum
      .select(gCols :+ col("__na") :+ col("__nb")
        :+ when(bV < nTot, round(term * lit(1e9), 0).cast(dec))
          .otherwise(lit(0).cast(dec)).as("__t"): _*)
      .groupBy(gCols :+ col("__na").as("n_a") :+ col("__nb").as("n_b"): _*)
      .agg(sum(col("__t")).as("__s"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = (col("n_a") + col("n_b")).cast("double")
    agg.select(
      gCols :+ col("n_a") :+ col("n_b")
        :+ when(col("n_a") >= 1 && col("n_b") >= 1,
          round((lit(1.0) / naD + lit(1.0) / nbD) / nD *
            (col("__s").cast("double") / lit(1e9)), 6)).as("a2"): _*)
  }

  /** Two-sample 1-Wasserstein (earth-mover) distance per group — the
    * drift number with UNITS: where [[ksStatisticGrouped]] reads the
    * largest ECDF gap (scale-free) and [[cramerVonMisesGrouped]] the
    * squared gap, W₁ integrates |F_a − F_b| over the VALUE axis, so it
    * reports "how far mass actually moved" in the value's own units —
    * the metric training-data mixture monitors quote when a source's
    * quality-score distribution slides. Closed 1-d form over sorted
    * distinct values:
    *
    *   W₁ = Σ_v (v₊ − v) · |F_a(v) − F_b(v)|
    *      = Σ_v (v₊ − v) · |cca_v·n_b − ccb_v·n_a| / (n_a·n_b)
    *
    * Determinism: values micro-quantize (1e6); each gap and each
    * |cca·n_b − ccb·n_a| is an exact integer, the sum accumulates as
    * DECIMAL, and the result emits through the exact integral-divide
    * micro-quantization (round-half-up of num/(n_a·n_b) as an integer,
    * one final /1e6) — no per-term float, no cross-engine
    * round(double, 6) tie exposure.
    *
    * Scale shape: the [[ksStatisticGrouped]] plan exactly — one
    * (group, value)-keyed map-combined aggregation, cumulative + lead
    * windows over the DISTINCT-VALUE table (bounded by value
    * cardinality, not row count), one group rollup.
    */
  def wasserstein1Grouped(df: DataFrame, groupBy: Seq[String],
                          inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty, "wasserstein1Grouped needs group keys")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val counts = df
      .select(gCols :+ round(value * lit(1e6), 0).cast("long").as("__v")
        :+ when(inA, 1L).otherwise(0L).as("__ia")
        :+ when(inB, 1L).otherwise(0L).as("__ib"): _*)
      .filter(col("__v").isNotNull && (col("__ia") === 1L || col("__ib") === 1L))
      .groupBy(gCols :+ col("__v"): _*)
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val wOrd = W.orderBy(col("__v"))
    val wCum = wOrd.rowsBetween(Long.MinValue, 0)
    val cum = counts.select(
      gCols
        :+ (lead(col("__v"), 1).over(wOrd) - col("__v")).as("__gap")
        :+ sum(col("__ca")).over(wCum).as("__cca")
        :+ sum(col("__cb")).over(wCum).as("__ccb")
        :+ sum(col("__ca")).over(W).as("__na")
        :+ sum(col("__cb")).over(W).as("__nb"): _*)
    val term = coalesce(col("__gap"), lit(0L)).cast(dec) *
      abs(col("__cca") * col("__nb") - col("__ccb") * col("__na")).cast(dec)
    val agg = cum
      .groupBy(gCols :+ col("__na").as("n_a") :+ col("__nb").as("n_b"): _*)
      .agg(sum(term).as("__num"))
    val w1 = expr("(__num * 2 + cast(n_a as decimal(38,0)) * n_b) div " +
      "(cast(n_a as decimal(38,0)) * n_b * 2)").cast("double") / lit(1e6)
    agg.select(gCols :+ col("n_a") :+ col("n_b")
      :+ when(col("n_a") >= 1 && col("n_b") >= 1, w1).as("w1"): _*)
  }

  /** Two-sample energy distance per group — the omnibus location+shape
    * drift test beside [[wasserstein1Grouped]] (Székely-Rizzo):
    *
    *   E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|
    *
    * E ≥ 0 with equality iff the distributions coincide; unlike KS it
    * weighs the whole distance geometry, and its three mean-distance
    * components are reported (they're the interpretable parts: the
    * cross mean vs the two within-sample spreads). The all-pairs sums
    * never materialize pairs — the 1-d closed form over sorted distinct
    * values counts, per inter-value gap, how many ordered pairs span it:
    *
    *   ΣΣ|x_i − y_j|  = Σ_v gap_v · (cca_v·(n_b − ccb_v) + ccb_v·(n_a − cca_v))
    *   ΣΣ|x_i − x_j| = Σ_v gap_v · 2·cca_v·(n_a − cca_v)
    *
    * Determinism: micro-quantized values, exact integer per-gap terms
    * accumulated as DECIMAL; the three mean distances emit as exact
    * integral-divide micro integers and E combines THOSE integers, so
    * every emitted double is an integer/1e6 — no round(double, 6)
    * anywhere.
    *
    * Scale shape: identical to [[wasserstein1Grouped]] — one
    * (group, value) aggregation, windows over the distinct-value
    * table, a group rollup. The quadratic pair space is collapsed by
    * algebra, never enumerated.
    */
  def energyDistanceGrouped(df: DataFrame, groupBy: Seq[String],
                            inA: Column, inB: Column, value: Column): DataFrame = {
    require(groupBy.nonEmpty, "energyDistanceGrouped needs group keys")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val counts = df
      .select(gCols :+ round(value * lit(1e6), 0).cast("long").as("__v")
        :+ when(inA, 1L).otherwise(0L).as("__ia")
        :+ when(inB, 1L).otherwise(0L).as("__ib"): _*)
      .filter(col("__v").isNotNull && (col("__ia") === 1L || col("__ib") === 1L))
      .groupBy(gCols :+ col("__v"): _*)
      .agg(sum(col("__ia")).as("__ca"), sum(col("__ib")).as("__cb"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(gCols: _*)
    val wOrd = W.orderBy(col("__v"))
    val wCum = wOrd.rowsBetween(Long.MinValue, 0)
    val cum = counts.select(
      gCols
        :+ (lead(col("__v"), 1).over(wOrd) - col("__v")).as("__gap")
        :+ sum(col("__ca")).over(wCum).as("__cca")
        :+ sum(col("__cb")).over(wCum).as("__ccb")
        :+ sum(col("__ca")).over(W).as("__na")
        :+ sum(col("__cb")).over(W).as("__nb"): _*)
    val g = coalesce(col("__gap"), lit(0L)).cast(dec)
    val sxy = g * (col("__cca") * (col("__nb") - col("__ccb")) +
      col("__ccb") * (col("__na") - col("__cca"))).cast(dec)
    val sxx = g * (col("__cca") * (col("__na") - col("__cca"))).cast(dec) * lit(2)
    val syy = g * (col("__ccb") * (col("__nb") - col("__ccb"))).cast(dec) * lit(2)
    val agg = cum
      .groupBy(gCols :+ col("__na").as("n_a") :+ col("__nb").as("n_b"): _*)
      .agg(sum(sxy).as("__sxy"), sum(sxx).as("__sxx"), sum(syy).as("__syy"))
      // micro-integer mean distances: round-half-up of sum/denominator
      // as exact integral divides (denominators as decimal — n_a·n_b
      // overflows Long past ~3e9 rows per side)
      .withColumn("__mxy",
        expr("(__sxy * 2 + cast(n_a as decimal(38,0)) * n_b) div " +
          "(cast(n_a as decimal(38,0)) * n_b * 2)"))
      .withColumn("__mxx",
        expr("(__sxx * 2 + cast(n_a as decimal(38,0)) * n_a) div " +
          "(cast(n_a as decimal(38,0)) * n_a * 2)"))
      .withColumn("__myy",
        expr("(__syy * 2 + cast(n_b as decimal(38,0)) * n_b) div " +
          "(cast(n_b as decimal(38,0)) * n_b * 2)"))
    val ok = col("n_a") >= 1 && col("n_b") >= 1
    agg.select(gCols :+ col("n_a") :+ col("n_b")
      :+ when(ok, col("__mxy").cast("double") / lit(1e6)).as("mean_cross")
      :+ when(ok, col("__mxx").cast("double") / lit(1e6)).as("mean_within_a")
      :+ when(ok, col("__myy").cast("double") / lit(1e6)).as("mean_within_b")
      :+ when(ok, (lit(2L) * col("__mxy") - col("__mxx") - col("__myy"))
        .cast("double") / lit(1e6)).as("energy"): _*)
  }

  def ksStatistic(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val counts = a.select(col(valueCol).as("__v"), lit(1L).as("__ca"), lit(0L).as("__cb"))
      .unionAll(b.select(col(valueCol).as("__v"), lit(0L), lit(1L)))
      .filter(col("__v").isNotNull)
      .groupBy(col("__v"))
      .agg(sum(col("__ca")).as("__ca"), sum(col("__cb")).as("__cb"))
    val cum = Ids.withRunningTotals(counts, Seq("__v"), Seq("__ca", "__cb"))
    val totals = counts.agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    cum.crossJoin(broadcast(totals))
      .select(col("__na"), col("__nb"),
        abs(col("__ca_cum") * col("__nb") - col("__cb_cum") * col("__na")).as("__d"))
      .groupBy(col("__na").as("n_a"), col("__nb").as("n_b"))
      .agg(max(col("__d")).as("d_num"))
      .withColumn("ks",
        col("d_num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
  }
}
