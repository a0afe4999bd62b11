package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Survey-statistics estimation: raking (iterative proportional fitting)
  * weight calibration, the Horvitz-Thompson stratified estimator, and
  * empirical-Bayes shrinkage of group means — the production-statistics
  * toolkit of a national statistics office (the reference's home
  * domain), re-expressed Spark-first.
  *
  * Not in the reference; engine extension (SURVEY §2.11), sitting
  * beside [[Sampling.neymanAllocation]] / [[Sampling.apportion]] on the
  * design side.
  *
  * Scale design: every operator reduces the data to a DESIGN-BOUNDED
  * table in one map-combined aggregation (margin cells, strata, groups)
  * before any iteration or closed form runs — the
  * [[Funnel.stationaryDistribution]] bounded-driver-state discipline,
  * with the r12 hard `require` posture (distributed panel counts BEFORE
  * any collect, so a mis-keyed call is a contract error, not an OOM).
  */
object Survey {

  /** Raking (iterative proportional fitting): calibrate sample weights
    * so the weighted row/column margins match known population targets
    * — THE survey-reweighting workhorse (post-stratification on two
    * margins at once). Sweeps alternate
    *
    *   w(r,c) ← w(r,c) · T_r / Σ_c w(r,c)   (row margins hit exactly)
    *   w(r,c) ← w(r,c) · T_c / Σ_r w(r,c)   (then columns; repeat)
    *
    * in EXACT integer `unit`-ths: each update is `(w·T) div M` on
    * decimal-sized integers (truncating div, non-negative operands), so
    * the whole iteration replays bit-for-bit as an unrolled CTE chain —
    * the [[Funnel.stationaryDistribution]] convention. Convergence
    * contract: with `tolUnits > 0` sweeps stop once every row AND
    * column margin is within `tolUnits` of its target; `iters_run`
    * reports the sweep count actually paid.
    *
    * Returns one row per occupied cell:
    * `(row_key, col_key, n_rows, w_base_units, w_raked_units,
    * iters_run)` — all BIGINT (integer `unit`-ths; no float surface,
    * the r12 quantization posture).
    *
    * Scale shape: ONE (r, c)-keyed map-combined aggregation reduces the
    * sample to its margin cells; targets are margin-bounded frames. The
    * IPF sweeps run on the driver over the cells×1 table under the hard
    * bounded-panel contract (`maxCells`, checked distributed BEFORE the
    * collect). Zero per-sweep Spark jobs.
    *
    * @param rowTargets frame of (row key, target weight in `unit`-ths):
    *                   must cover every row key present in the sample
    * @param colTargets same for the column margin
    */
  def rake(df: DataFrame, rowCol: Column, colCol: Column, weight: Column,
           rowTargets: DataFrame, colTargets: DataFrame,
           iterations: Int, unit: Long = 1000000L,
           tolUnits: Long = 0L, maxCells: Int = 100000): DataFrame = {
    require(iterations >= 1 && iterations <= 32,
      s"iterations out of range: $iterations")
    require(tolUnits >= 0L, s"tolUnits must be non-negative: $tolUnits")
    require(maxCells >= 1, s"maxCells must be positive: $maxCells")
    val spark = df.sparkSession
    val dec = DecimalType(38, 0)
    val cellsDf = df
      .select(rowCol.cast("string").as("__r"), colCol.cast("string").as("__c"),
        round(weight * lit(unit.toDouble), 0).cast("long").as("__w"))
      .filter(col("__r").isNotNull && col("__c").isNotNull &&
        col("__w").isNotNull && col("__w") > 0L)
      .groupBy(col("__r"), col("__c"))
      .agg(count(lit(1)).as("__n"), sum(col("__w").cast(dec)).as("__sw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells: Array[(String, String, Long, BigInt)] = Observe.releasing(cellsDf) {
      // hard bounded-panel contract: count the design cells distributed
      // BEFORE anything reaches the driver
      val nCells = Observe.rowCount(cellsDf)
      require(nCells <= maxCells.toLong,
        s"rake materializes the margin-cell table on the driver; got " +
          s"$nCells occupied cells (cap $maxCells). Raking margins must " +
          s"be design variables (region × age band), not raw ids.")
      cellsDf.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          BigInt(r.getDecimal(3).toBigInteger)))
    }
    def targets(t: DataFrame): Map[String, BigInt] = t.collect()
      .map(r => r.get(0).toString -> BigInt(java.math.BigDecimal
        .valueOf(r.getLong(1)).toBigInteger)).toMap
    val rowT = targets(rowTargets)
    val colT = targets(colTargets)
    val rKeys = cells.map(_._1).distinct
    val cKeys = cells.map(_._2).distinct
    for (r <- rKeys) require(rowT.contains(r),
      s"rowTargets missing sample row key '$r' — raking targets must " +
        s"cover every observed margin value")
    for (c <- cKeys) require(colT.contains(c),
      s"colTargets missing sample col key '$c'")
    val base: Map[(String, String), BigInt] =
      cells.map(t => (t._1, t._2) -> t._4).toMap
    def margins(w: Map[(String, String), BigInt], key: ((String, String)) => String) =
      w.groupBy(kv => key(kv._1)).map { case (k, m) => k -> m.values.sum }
    val (w, sweeps) = Observe.iterate("rake", base, iterations) { w0 =>
      // row sweep: margins hit their targets exactly (up to div floor)
      val rm = margins(w0, _._1)
      val w1 = w0.map { case ((r, c), v) => ((r, c), v * rowT(r) / rm(r)) }
      // column sweep
      val cm = margins(w1, _._2)
      w1.map { case ((r, c), v) => ((r, c), v * colT(c) / cm(c)) }
    } { (_, w) =>
      tolUnits > 0L && {
        val (rm, cm) = (margins(w, _._1), margins(w, _._2))
        (rKeys.map(r => (rm(r) - rowT(r)).abs) ++
          cKeys.map(c => (cm(c) - colT(c)).abs)).max < BigInt(tolUnits)
      }
    }
    import spark.implicits._
    cells.toSeq.map { case (r, c, n, _) =>
      (r, c, n, base((r, c)).toLong, w((r, c)).toLong, sweeps.toLong)
    }.sortBy(t => (t._1, t._2))
      .toDF("row_key", "col_key", "n_rows", "w_base_units",
        "w_raked_units", "iters_run")
  }

  /** Horvitz-Thompson estimator of a population total under stratified
    * simple random sampling without replacement: with N_h the
    * population count and n_h the realized sample count per stratum,
    *
    *   T̂  = Σ_h N_h · ȳ_h
    *   V̂  = Σ_h N_h² (1 − n_h/N_h) s²_h / n_h   (finite-population
    *        corrected),  SE = √V̂
    *
    * — the design-unbiased answer to "scale the sample back up" that a
    * naive mean·N gets wrong the moment strata are sampled at
    * different rates. One row:
    * `(n_strata, n_pop, n_sample, ht_total_micros, se)`.
    *
    * Determinism: y micro-quantizes per row; per-stratum S₁/S₂ are
    * exact decimal sums, each stratum's total contribution
    * round-half-up quantizes `N_h·S₁/n_h` (the double of an exact
    * decimal product — sign-safe, unlike truncating div on a possibly
    * negative S₁) and its variance term nano-quantizes, both BEFORE
    * the exact order-free final sums; SE is one sqrt on an identical
    * exact integer, 6 dp.
    *
    * Scale shape: one stratum-keyed map-combined moment pass over the
    * sample, a strata-bounded broadcast join to the population counts,
    * one 1-row rollup — no windows, no row-level joins.
    *
    * @param popCounts frame of (stratum key, N_h BIGINT); must cover
    *                  every sampled stratum with N_h >= n_h
    */
  def horvitzThompson(sample: DataFrame, stratum: Column, y: Column,
                      popCounts: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val s = sample
      .select(stratum.cast("string").as("__h"),
        round(y * lit(1e6), 0).cast("long").as("__y"))
      .filter(col("__h").isNotNull && col("__y").isNotNull)
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__y").cast(dec)).as("__s1"),
        sum((col("__y").cast(dec)) * col("__y").cast(dec)).as("__s2"))
    val pc = popCounts.toDF("__h", "__pn")
      .select(col("__h").cast("string").as("__h"), col("__pn").cast("long").as("__pn"))
    val j = s.join(broadcast(pc), Seq("__h"), "inner")
    // per-stratum exact pieces: total term as integral div; variance
    // term nano-quantized (value² units) before the order-free sum
    val nD = col("__n").cast("double")
    val nBig = col("__pn").cast("double")
    val s1d = col("__s1").cast("double")
    val s2d = col("__s2").cast("double")
    // s²_h in micro² units; (n-1) guard: singleton strata contribute 0
    // variance (the standard collapsed-stratum caveat, stated not hidden)
    val s2h = when(col("__n") >= 2L,
      (s2d - s1d * s1d / nD) / (nD - lit(1.0))).otherwise(lit(0.0))
    val vTerm = nBig * nBig * (lit(1.0) - nD / nBig) * s2h / nD / lit(1e12)
    val perStratum = j.select(
      col("__h"), col("__n"), col("__pn"),
      round(expr("cast(cast(__pn as decimal(38,0)) * __s1 as double)") / nD, 0)
        .cast(dec).as("__t"),
      round(vTerm * lit(1e9), 0).cast(dec).as("__v"))
    perStratum.agg(
        count(lit(1)).as("n_strata"),
        sum(col("__pn").cast(dec)).as("__np"),
        sum(col("__n")).as("n_sample"),
        sum(col("__t")).as("__tt"),
        sum(col("__v")).as("__vv"))
      .select(col("n_strata"),
        col("__np").cast("long").as("n_pop"),
        col("n_sample"),
        col("__tt").cast("long").as("ht_total_micros"),
        round(sqrt(col("__vv").cast("double") / lit(1e9)), 6).as("se"))
  }

  /** Empirical-Bayes (James-Stein / one-way random-effects) shrinkage
    * of group means toward the grand mean — the small-area-estimation
    * move: a group seen 5 times borrows strength from the population,
    * a group seen 50k times keeps its own mean. Method-of-moments
    * variance components from the one-way ANOVA identity:
    *
    *   σ̂² = SSW / (N − k)                 (within)
    *   n₀  = (N − Σn²/N) / (k − 1)         (effective group size)
    *   τ̂² = max(0, (SSB/(k−1) − σ̂²) / n₀) (between)
    *   B_g = τ̂² / (τ̂² + σ̂²/n_g),  shrunk_g = μ̂ + B_g (ȳ_g − μ̂)
    *
    * Per group: `(group, n, mean_micros, shrunk_mean_micros, b_micros)`
    * — integer micro-units (the r12 no-float-surface posture), ordered
    * by group. τ̂² = 0 (no real between-group signal) collapses every
    * group to the grand mean — the honest degenerate read.
    *
    * Determinism: ONE micro-quantized moment pass gives every SS term
    * as exact decimal sums; σ̂²/τ̂²/μ̂ reduce on the k-row group table
    * (combined in double only at the final fixed IEEE tree — the
    * Σn² cross-products stay exact decimals).
    *
    * Scale shape: one group-keyed map-combined aggregation + a 1-row
    * broadcast of the variance components back onto the k-row group
    * frame. The raw rows are read exactly once.
    */
  def ebShrink(df: DataFrame, groupBy: Seq[String], value: Column): DataFrame = {
    require(groupBy.nonEmpty, "ebShrink needs group keys")
    val dec = DecimalType(38, 0)
    val gCols = groupBy.map(col)
    val base = df
      .select(gCols :+ round(value * lit(1e6), 0).cast("long").as("__y"): _*)
      .filter(gCols.map(_.isNotNull).reduce(_ && _) && col("__y").isNotNull)
    val g = base.groupBy(gCols: _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__y").cast(dec)).as("__s1"),
        sum(col("__y").cast(dec) * col("__y").cast(dec)).as("__s2"))
    val tot = g.agg(
      sum(col("__n")).as("__Nt"),
      count(lit(1)).as("__k"),
      sum(col("__s1")).as("__S1"),
      sum(col("__s2")).as("__S2"),
      // Σ s1²/n per group: quantize each group's exact ratio to micro²
      // nanos before the sum so partial-agg order cannot matter
      sum(round(col("__s1").cast("double") * col("__s1").cast("double") /
        col("__n").cast("double") / lit(1e6), 0).cast(dec)).as("__SA"),
      sum(col("__n").cast(dec) * col("__n").cast(dec)).as("__nn"))
    val N = col("__Nt").cast("double")
    val k = col("__k").cast("double")
    val mu = col("__S1").cast("double") / N                      // micro units
    val ssw = col("__S2").cast("double") - col("__SA").cast("double") * lit(1e6)
    val ssb = col("__SA").cast("double") * lit(1e6) -
      col("__S1").cast("double") * col("__S1").cast("double") / N
    val sigma2 = ssw / (N - k)                                   // micro²
    val n0 = (N - col("__nn").cast("double") / N) / (k - lit(1.0))
    val tau2 = greatest(lit(0.0), (ssb / (k - lit(1.0)) - sigma2) / n0)
    val comps = tot.select(mu.as("__mu"), sigma2.as("__sig2"), tau2.as("__tau2"))
    val withC = g.crossJoin(broadcast(comps))
    val gMean = col("__s1").cast("double") / col("__n").cast("double")
    val b = col("__tau2") / (col("__tau2") + col("__sig2") / col("__n").cast("double"))
    withC.select(gCols
      :+ col("__n").as("n")
      :+ round(gMean, 0).cast("long").as("mean_micros")
      :+ round(col("__mu") + b * (gMean - col("__mu")), 0).cast("long")
        .as("shrunk_mean_micros")
      :+ round(b * lit(1e6), 0).cast("long").as("b_micros"): _*)
      .orderBy(gCols: _*)
  }
}
