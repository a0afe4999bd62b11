package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Per-group ordinary least squares — closed-form trend estimation
  * (`y = intercept + slope·x` per group) as one aggregation over the
  * scan, the way a 100 TB metrics store fits a trendline per series
  * without ever materializing per-group arrays.
  *
  * The reference library's pipelines hand per-group curve fitting to
  * driver-side pandas via the grouped-map machinery
  * (reference: ons_utils/pyspark/general.py:42-106 — an arbitrary
  * `pd.DataFrame -> pd.DataFrame` per group); this is the same
  * capability expressed as sufficient statistics: OLS needs only the
  * five moment sums (Σx, Σy, Σx², Σxy, Σy²), which aggregate
  * map-side-combined in a single shuffle keyed on the group columns —
  * no per-group iteration, no Arrow hop, no skew sensitivity beyond
  * the aggregation itself.
  *
  * Determinism (the repo's playbook): x and y quantize to integer
  * micro-units per row, the five moments accumulate as DECIMAL(38,0)
  * (exact integers at any parallelism or fold order — second moments
  * of micro-quantized values overflow BIGINT at ~10⁵ rows/group, so
  * the accumulator is decimal on the Spark side and HUGEINT in the
  * DuckDB oracle), and each emitted statistic is a fixed sequence of
  * IEEE double operations on those exact integers:
  *
  *   slope     = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)          (micro scales cancel)
  *   intercept = ((Sy·Sxx − Sx·Sxy) / (n·Sxx − Sx²)) / 10⁶
  *   r         = (n·Sxy − Sx·Sy) / √((n·Sxx − Sx²)·(n·Syy − Sy²))
  *
  * Numerators/denominators are exact decimal combinations cast to
  * double ONCE (round-to-nearest is identical in every engine), then
  * one division (plus one sqrt for r²) — so 6-dp-rounded outputs agree
  * bit-for-bit with any engine replaying the same integer moments.
  *
  * Degenerate groups get explicit semantics: a group whose x variance
  * is zero (all points share one x) has no defined line — slope,
  * intercept and r2 emit NULL rather than ±Infinity; a group with zero
  * y variance on positive x variance is a perfect horizontal fit:
  * slope 0, intercept = mean(y), r2 NULL (r is 0/0 there).
  */
object Regression {

  /** The exact sum type of this object, and the per-row nano
    * quantization into it before every exact sum.
    */
  private val dec = DecimalType(38, 0)
  private def nano(c: Column): Column = round(c * lit(1e9), 0).cast(dec)

  /** Fit `y = intercept + slope·x` per group. Returns the group columns
    * plus `(n, slope, intercept, r2)`, rounded to 6 dp.
    *
    * `x` and `y` are micro-quantized per row (`round(v·10⁶)`) before
    * the moment sums — callers supplying already-integer x (epoch days,
    * a version counter) lose nothing; callers with fractional x/y get
    * the library-wide micro precision.
    */
  def groupOls(df: DataFrame, groupBy: Seq[String], x: Column, y: Column): DataFrame = {
    require(groupBy.nonEmpty, "groupOls needs at least one group column")
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val g = df
      .select(groupBy.map(col) :+ q(x).as("__x") :+ q(y).as("__y"): _*)
      .groupBy(groupBy.map(col): _*)
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__y") * col("__y")).as("__syy"))
    // exact decimal combinations, cast to double once, then IEEE math
    val covN = (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val varX = (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val varY = (col("__n") * col("__syy") - col("__sy") * col("__sy")).cast("double")
    val interN = (col("__sy") * col("__sxx") - col("__sx") * col("__sxy")).cast("double")
    val r = covN / sqrt(varX * varY)
    g.select(
      groupBy.map(col) ++ Seq(
        col("__n").cast("long").as("n"),
        when(varX =!= 0.0, round(covN / varX, 6)).as("slope"),
        when(varX =!= 0.0, round(interN / varX / lit(1e6), 6)).as("intercept"),
        when(varX =!= 0.0 && varY =!= 0.0, round(r * r, 6)).as("r2")): _*)
  }

  /** Per-group RIDGE trend — [[groupOls]] with L2 shrinkage, the fit to
    * quote when groups are small or x barely varies and the raw OLS
    * slope is noise chasing (per-series trends over thousands of sparse
    * series is exactly where a 100 TB metrics store needs shrinkage,
    * not per-group iterative solvers). Single-predictor closed form on
    * CENTERED moments:
    *
    *   slope_ridge = Sxy_c / (Sxx_c + n·λ)
    *             = (n·Sxy − Sx·Sy) / ((n·Sxx − Sx²) + n²·λ)
    *
    * (both sides multiplied by n, so the exact-decimal raw-moment
    * combinations of [[groupOls]] carry over unchanged; λ enters in
    * micro² units as an exact integer, making the denominator exact
    * DECIMAL(38,0) too). λ = 0 reproduces OLS bit-for-bit; the emitted
    * `slope_ols` beside `slope_ridge` makes the shrinkage visible.
    * Intercept re-centers through the shrunken slope:
    * intercept = (ȳ − slope_ridge·x̄), one fixed IEEE tree.
    *
    * Determinism: identical to [[groupOls]] — exact integer moments,
    * each output one fixed IEEE sequence, 6 dp.
    *
    * Scale shape: ONE map-side-combined aggregation keyed on the group
    * columns; 1 row per group.
    *
    * @param lambda L2 penalty in (original x units)², must be >= 0
    */
  def groupRidge(df: DataFrame, groupBy: Seq[String], x: Column, y: Column,
                 lambda: Double): DataFrame = {
    require(groupBy.nonEmpty, "groupRidge needs at least one group column")
    require(lambda >= 0.0 && lambda.isFinite, s"lambda must be finite >= 0: $lambda")
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    // λ in micro² units, exact: round once on the driver (a constant)
    val lamMicro2 = BigDecimal(lambda).*(BigDecimal(10).pow(12))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
    val g = df
      .select(groupBy.map(col) :+ q(x).as("__x") :+ q(y).as("__y"): _*)
      .groupBy(groupBy.map(col): _*)
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"))
    val covN = (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val varX = (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val denom = (col("__n") * col("__sxx") - col("__sx") * col("__sx")
      + col("__n") * col("__n") * lit(lamMicro2.toString).cast(dec)).cast("double")
    val nD = col("__n").cast("double")
    val slopeR = covN / denom
    val interR = (col("__sy").cast("double") - slopeR * col("__sx").cast("double")) /
      nD / lit(1e6)
    g.select(
      groupBy.map(col) ++ Seq(
        col("__n").cast("long").as("n"),
        when(denom =!= 0.0, round(slopeR, 6)).as("slope_ridge"),
        when(varX =!= 0.0, round(covN / varX, 6)).as("slope_ols"),
        when(denom =!= 0.0, round(interR, 6)).as("intercept")): _*)
  }

  /** Variance inflation factors for a 3-predictor design — the
    * multicollinearity audit that belongs NEXT TO any multi-feature
    * fit: VIF_j = 1/(1−R²_j) where R²_j regresses predictor j on the
    * other two. Closed form via the pairwise correlations,
    *
    *   R²_1 = (r₁₂² + r₁₃² − 2·r₁₂·r₁₃·r₂₃) / (1 − r₂₃²)
    *
    * (and symmetrically), so the whole audit is ONE map-side-combined
    * aggregation of the nine exact second moments — no matrix solver,
    * no per-feature pass.
    *
    * Determinism: all three columns micro-quantize per row; the nine
    * moment sums are exact DECIMAL(38,0); each r is one IEEE tree on
    * exact integers and each VIF a fixed follow-on tree, 6 dp.
    * Degeneracy: a zero-variance predictor or |r₂₃| = 1 (perfectly
    * collinear complement) emits NULL for the affected VIFs.
    *
    * @return one row `(n, r12, r13, r23, vif_1, vif_2, vif_3)` with
    *         VIFs ordered as the argument columns
    */
  def vif3(df: DataFrame, x1: Column, x2: Column, x3: Column): DataFrame = {
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df.select(q(x1).as("__a"), q(x2).as("__b"), q(x3).as("__c"))
      .filter(col("__a").isNotNull && col("__b").isNotNull && col("__c").isNotNull)
    val m = base.agg(
      count(lit(1)).cast(dec).as("__n"),
      sum(col("__a")).as("__sa"), sum(col("__b")).as("__sb"),
      sum(col("__c")).as("__sc"),
      sum(col("__a") * col("__a")).as("__saa"),
      sum(col("__b") * col("__b")).as("__sbb"),
      sum(col("__c") * col("__c")).as("__scc"),
      sum(col("__a") * col("__b")).as("__sab"),
      sum(col("__a") * col("__c")).as("__sac"),
      sum(col("__b") * col("__c")).as("__sbc"))
    def corr(sxy: Column, sx: Column, sy: Column,
             sxx: Column, syy: Column): Column = {
      val covN = (col("__n") * sxy - sx * sy).cast("double")
      val vx = (col("__n") * sxx - sx * sx).cast("double")
      val vy = (col("__n") * syy - sy * sy).cast("double")
      when(vx > 0.0 && vy > 0.0, covN / sqrt(vx * vy))
    }
    val r12 = corr(col("__sab"), col("__sa"), col("__sb"), col("__saa"), col("__sbb"))
    val r13 = corr(col("__sac"), col("__sa"), col("__sc"), col("__saa"), col("__scc"))
    val r23 = corr(col("__sbc"), col("__sb"), col("__sc"), col("__sbb"), col("__scc"))
    def r2Of(rjk: Column, rjl: Column, rkl: Column): Column =
      when(rjk.isNotNull && rjl.isNotNull && rkl.isNotNull &&
          abs(rkl) < 1.0,
        (rjk * rjk + rjl * rjl - lit(2.0) * rjk * rjl * rkl) /
          (lit(1.0) - rkl * rkl))
    def vifOf(r2: Column): Column =
      when(r2.isNotNull && r2 < 1.0, round(lit(1.0) / (lit(1.0) - r2), 6))
    m.select(
      col("__n").cast("long").as("n"),
      round(r12, 6).as("r12"), round(r13, 6).as("r13"), round(r23, 6).as("r23"),
      vifOf(r2Of(r12, r13, r23)).as("vif_1"),
      vifOf(r2Of(r12, r23, r13)).as("vif_2"),
      vifOf(r2Of(r13, r23, r12)).as("vif_3"))
  }

  /** Log-log OLS per group — `ln y = intercept + slope·ln x`, the
    * elasticity regression (slope = %Δy per %Δx; demand elasticity,
    * scaling exponents, power laws). Only rows with x > 0 AND y > 0
    * participate (logs), stated in the contract.
    *
    * Determinism: ln x / ln y nano-quantize PER ROW (libm ln agrees
    * across engines; a raw double Σ of them would not be
    * order-invariant), then the [[groupOls]] exact-decimal moment
    * algebra — slope and r² are scale-free in the nano unit, intercept
    * unscales by 1e9 once.
    *
    * Scale shape: ONE group-keyed map-combined aggregation; 1 row per
    * group.
    */
  def groupOlsLogLog(df: DataFrame, groupBy: Seq[String], x: Column,
                     y: Column): DataFrame = {
    require(groupBy.nonEmpty, "groupOlsLogLog needs at least one group column")
    def ql(c: Column): Column = round(log(c) * lit(1e9), 0).cast("long").cast(dec)
    val g = df
      .filter(y > 0 && x > 0)
      .select(groupBy.map(col) :+ ql(x).as("__x") :+ ql(y).as("__y"): _*)
      .groupBy(groupBy.map(col): _*)
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__y") * col("__y")).as("__syy"))
    val covN = (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val varX = (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val varY = (col("__n") * col("__syy") - col("__sy") * col("__sy")).cast("double")
    // intercept via the slope in DOUBLE — the decimal Sy·Sxx − Sx·Sxy
    // form overflows DECIMAL(38) in nano² units at corpus scale
    val slope = covN / varX
    val inter = (col("__sy").cast("double") - slope * col("__sx").cast("double")) /
      col("__n").cast("double") / lit(1e9)
    val r = covN / sqrt(varX * varY)
    g.select(
      groupBy.map(col) ++ Seq(
        col("__n").cast("long").as("n"),
        when(varX =!= 0.0, round(slope, 6)).as("elasticity"),
        when(varX =!= 0.0, round(inter, 6)).as("intercept"),
        when(varX =!= 0.0 && varY =!= 0.0, round(r * r, 6)).as("r2")): _*)
  }

  /** Top-k influence points by Cook's distance under the per-group
    * simple OLS — "which days bent the trend line?":
    *
    *   h_i = 1/n + (x_i − x̄)²/S_xx,   D_i = e_i²·h_i / (p·s²·(1−h_i)²)
    *
    * with p = 2 and s² = RSS/(n−2). Returns the k most influential rows
    * per group `(groups..., x, resid, leverage, cooks_d)`.
    *
    * Determinism: the fit and every per-row quantity are fixed IEEE
    * trees over [[groupOls]]'s exact micro moments (broadcast to the
    * rows); ranking orders by the 9-dp-rounded D with the x tiebreak so
    * equal-tree engines agree on the kept set.
    *
    * Scale shape: one group-keyed moment pass, a k-row broadcast back,
    * one narrow scoring projection, one group-partitioned top-k window.
    */
  def cooksTopK(df: DataFrame, groupBy: Seq[String], x: Column, y: Column,
                k: Int): DataFrame = {
    require(groupBy.nonEmpty, "cooksTopK needs group columns")
    require(k >= 1, s"k must be positive: $k")
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df
      .select(groupBy.map(col) :+ q(x).as("__x") :+ q(y).as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val g = base.groupBy(groupBy.map(col): _*)
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__y") * col("__y")).as("__syy"))
    val mxx = (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val mxy = (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val myy = (col("__n") * col("__syy") - col("__sy") * col("__sy")).cast("double")
    val nD = col("__n").cast("double")
    val coef = g
      .filter(col("__n") >= 4 && mxx > 0.0)
      .select(groupBy.map(col) ++ Seq(
        (mxy / mxx).as("__b"),
        ((col("__sy").cast("double") - mxy / mxx * col("__sx").cast("double")) / nD)
          .as("__a"),
        (col("__sx").cast("double") / nD).as("__xbar"),
        (mxx / nD).as("__sxxc"),
        nD.as("__nD"),
        (((myy - mxy * mxy / mxx) / nD) / (nD - lit(2.0))).as("__s2")): _*)
    val xd = col("__x").cast("double")
    val e = col("__y").cast("double") - (col("__a") + col("__b") * xd)
    val h = lit(1.0) / col("__nD") + (xd - col("__xbar")) * (xd - col("__xbar")) /
      col("__sxxc")
    val d = e * e * h / (lit(2.0) * col("__s2") * (lit(1.0) - h) * (lit(1.0) - h))
    val scored = base.join(broadcast(coef), groupBy)
      .filter(col("__s2") > 0.0)
      .withColumn("__d9", round(d, 9))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(groupBy.map(col): _*)
      .orderBy(col("__d9").desc, col("__x"))
    scored.withColumn("__rk", row_number().over(W))
      .filter(col("__rk") <= k)
      .select(groupBy.map(col) ++ Seq(
        (col("__x").cast("double") / lit(1e6)).as("x"),
        round(e / lit(1e6), 6).as("resid"),
        round(h, 6).as("leverage"),
        round(d, 6).as("cooks_d")): _*)
  }

  /** Sharp regression-discontinuity estimate — the causal design for
    * "treatment switches on at a threshold of the running variable":
    * local-linear fits on each side of `cutoff` within `bandwidth`,
    * both extrapolated TO the cutoff; the jump between the two
    * intercepts is the effect,
    *
    *   τ = b₀⁺ − b₀⁻,   se(τ) = √(Var(b₀⁺) + Var(b₀⁻)),
    *   Var(b₀) = σ̂²·Sxx / (n·Sxx − Sx²),  σ̂² = SSR/(n−2)
    *
    * on x centered at the cutoff (so each intercept IS the boundary
    * prediction). The right side includes the cutoff value itself
    * (x ≥ c), the left is x < c — the sharp-assignment convention.
    * One row: `(n_left, n_right, b_left, b_right, slope_left,
    * slope_right, tau, se_tau, z)`; SE-dependent outputs null when
    * either side has n < 3 or zero x-variance.
    *
    * Determinism: centered x and y micro-quantize per row; the twelve
    * side-conditional moments accumulate as exact DECIMAL(38,0) in ONE
    * grand aggregation; every output is a fixed IEEE tree on those
    * integers, 6 dp.
    *
    * Scale shape: a single map-side-combined conditional aggregation
    * over the (bandwidth-filtered, pushdown-eligible) scan → one row.
    * No per-side passes, no shuffle beyond the 1-row reduce.
    */
  def regressionDiscontinuity(df: DataFrame, running: Column, outcome: Column,
                              cutoff: Double, bandwidth: Double): DataFrame = {
    require(bandwidth > 0.0 && bandwidth.isFinite,
      s"bandwidth must be finite > 0: $bandwidth")
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df
      .select(running.as("__r"), outcome.as("__y0"))
      .filter(col("__r").isNotNull && col("__y0").isNotNull &&
        col("__r") >= cutoff - bandwidth && col("__r") <= cutoff + bandwidth)
      .select((col("__r") >= cutoff).as("__hi"),
        q(col("__r") - lit(cutoff)).as("__x"), q(col("__y0")).as("__y"))
    def side(hi: Boolean, nm: String): Seq[Column] = {
      val in = if (hi) col("__hi") else !col("__hi")
      def s(e: Column, a: String) = sum(when(in, e).otherwise(lit(0).cast(dec)))
        .as(s"__$a$nm")
      Seq(sum(when(in, 1L).otherwise(0L)).cast(dec).as(s"__n$nm"),
        s(col("__x"), "sx"), s(col("__y"), "sy"),
        s(col("__x") * col("__x"), "sxx"), s(col("__x") * col("__y"), "sxy"),
        s(col("__y") * col("__y"), "syy"))
    }
    val m2 = base.agg(side(false, "l").head,
      (side(false, "l").tail ++ side(true, "r")): _*)
    def fit(nm: String): (Column, Column, Column, Column) = {
      val n = col(s"__n$nm"); val sx = col(s"__sx$nm"); val sy = col(s"__sy$nm")
      val sxx = col(s"__sxx$nm"); val sxy = col(s"__sxy$nm"); val syy = col(s"__syy$nm")
      val varX = (n * sxx - sx * sx).cast("double")
      val covN = (n * sxy - sx * sy).cast("double")
      val varY = (n * syy - sy * sy).cast("double")
      val slope = covN / varX
      val b0 = (sy.cast("double") - slope * sx.cast("double")) / n.cast("double") / lit(1e6)
      // SSR/n² in micro² units: (varY − slope·covN)/n ... all exact-int inputs
      val ssrN = (varY - slope * covN) / n.cast("double")
      val sigma2 = ssrN / (n.cast("double") - lit(2.0))
      val varB0 = sigma2 * sxx.cast("double") / varX / lit(1e12)
      (when(varX > 0.0, slope), when(varX > 0.0, b0),
        when(varX > 0.0 && n.cast("double") > 2.0, varB0), n)
    }
    val (slL, b0L, vL, nL) = fit("l")
    val (slR, b0R, vR, nR) = fit("r")
    val tau = b0R - b0L
    val seTau = sqrt(vL + vR)
    m2.select(nL.cast("long").as("n_left"), nR.cast("long").as("n_right"),
      round(b0L, 6).as("b_left"), round(b0R, 6).as("b_right"),
      round(slL, 6).as("slope_left"), round(slR, 6).as("slope_right"),
      round(tau, 6).as("tau"),
      when(seTau > 0.0, round(seTau, 6)).as("se_tau"),
      when(seTau > 0.0, round(tau / seTau, 6)).as("z"))
  }

  /** Binary-instrument IV (Wald) estimator — the causal effect of x on
    * y when x is confounded but an ENCOURAGEMENT z is as-good-as-random:
    *
    *   β_IV = (ȳ₁ − ȳ₀) / (x̄₁ − x̄₀)   (ITT ÷ first stage)
    *
    * with the first-stage F (the weak-instrument gate: quote β only
    * when F ≳ 10) computed from the pooled within-arm x variance,
    *   F = (x̄₁ − x̄₀)² / (s²_pool·(1/n₀ + 1/n₁)).
    * One row: `(n0, n1, itt, first_stage, f_first, beta_iv)`;
    * beta_iv null when the first stage is exactly 0, F null when the
    * pooled variance is 0 or either arm has n < 2.
    *
    * Determinism: x and y micro-quantize; the eight arm-conditional
    * moments are exact DECIMAL(38,0) in one grand aggregation; ITT,
    * first stage, F and β are fixed IEEE trees, 6 dp.
    *
    * Scale shape: ONE map-side-combined conditional aggregation → one
    * row. The 100 TB posture for every encouragement-design readout.
    */
  def ivWald(df: DataFrame, instrument: Column, x: Column, y: Column): DataFrame = {
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df.select(instrument.cast("boolean").as("__z"),
        q(x).as("__x"), q(y).as("__y"))
      .filter(col("__z").isNotNull && col("__x").isNotNull && col("__y").isNotNull)
    def s(in: Column, e: Column, a: String) =
      sum(when(in, e).otherwise(lit(0).cast(dec))).as(a)
    val m = base.agg(
      sum(when(!col("__z"), 1L).otherwise(0L)).cast(dec).as("__n0"),
      s(!col("__z"), col("__x"), "__sx0"), s(!col("__z"), col("__y"), "__sy0"),
      s(!col("__z"), col("__x") * col("__x"), "__sxx0"),
      sum(when(col("__z"), 1L).otherwise(0L)).cast(dec).as("__n1"),
      s(col("__z"), col("__x"), "__sx1"), s(col("__z"), col("__y"), "__sy1"),
      s(col("__z"), col("__x") * col("__x"), "__sxx1"))
    def mean(sc: Column, n: Column) = sc.cast("double") / n.cast("double") / lit(1e6)
    val n0 = col("__n0"); val n1 = col("__n1")
    val itt = mean(col("__sy1"), n1) - mean(col("__sy0"), n0)
    val fs = mean(col("__sx1"), n1) - mean(col("__sx0"), n0)
    // pooled within-arm SS of x: the n·SS form keeps everything an exact
    // decimal COMBINATION cast to double once (never decimal division,
    // whose scale semantics differ across engines)
    val ss0 = (n0 * col("__sxx0") - col("__sx0") * col("__sx0")).cast("double") /
      n0.cast("double")
    val ss1 = (n1 * col("__sxx1") - col("__sx1") * col("__sx1")).cast("double") /
      n1.cast("double")
    val s2 = (ss0 + ss1) / (n0.cast("double") + n1.cast("double") - lit(2.0)) / lit(1e12)
    val f = fs * fs / (s2 * (lit(1.0) / n0.cast("double") + lit(1.0) / n1.cast("double")))
    val ok = n0 >= 2 && n1 >= 2
    m.select(n0.cast("long").as("n0"), n1.cast("long").as("n1"),
      round(itt, 6).as("itt"), round(fs, 6).as("first_stage"),
      when(ok && s2 > 0.0, round(f, 6)).as("f_first"),
      when(fs =!= 0.0, round(itt / fs, 6)).as("beta_iv"))
  }

  /** Per-group WEIGHTED least squares — [[groupOls]] with per-row
    * reliability weights (inverse-variance weights, sampling weights,
    * or quality scores):
    *
    *   slope = (Sw·Swxy − Swx·Swy) / (Sw·Swxx − Swx²),
    *   intercept = (Swy − slope·Swx)/Sw
    *
    * Per group: `(groupBy..., n, w_sum, slope, intercept)`; slope null
    * when the weighted x-variance is 0 (or all weights are). Rows with
    * null or negative weight drop; zero weights are kept (they
    * contribute nothing but count toward n — emitting w_sum beside n
    * makes the distinction visible).
    *
    * Determinism: x, y AND w micro-quantize per row; the five weighted
    * moment SUMS (w, wx, wy, wx², wxy — triple products of micro
    * integers) are exact DECIMAL(38,0) at any parallelism; each sum
    * then casts to double ONCE and the normal equations are a fixed
    * IEEE tree (the Sw·Swxx cross-product would overflow 128-bit
    * integers, so this op — unlike the two-sum fits — combines in
    * double), 6 dp.
    *
    * Scale shape: the [[groupOls]] contract — ONE map-side-combined
    * aggregation keyed on the group columns.
    */
  def groupWls(df: DataFrame, groupBy: Seq[String], x: Column, y: Column,
               w: Column): DataFrame = {
    require(groupBy.nonEmpty, "groupWls needs at least one group column")
    def q(c: Column): Column = round(c * lit(1e6), 0).cast(dec)
    val base = df
      .select(groupBy.map(col) :+ q(x).as("__x") :+ q(y).as("__y") :+ q(w).as("__w"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull &&
        col("__w").isNotNull && col("__w") >= 0)
    val g = base.groupBy(groupBy.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col("__w")).as("__sw"),
      sum(col("__w") * col("__x")).as("__swx"),
      sum(col("__w") * col("__y")).as("__swy"),
      sum(col("__w") * col("__x") * col("__x")).as("__swxx"),
      sum(col("__w") * col("__x") * col("__y")).as("__swxy"))
    // each exact sum casts to double ONCE, then a fixed IEEE tree — the
    // Sw·Swxx product would overflow 128-bit integers (micro³ × rows²),
    // so unlike the two-sum ops the normal equations combine in double
    def d(c: String): Column = col(c).cast("double")
    val varX = d("__sw") * d("__swxx") - d("__swx") * d("__swx")
    val covN = d("__sw") * d("__swxy") - d("__swx") * d("__swy")
    val slope = covN / varX
    val inter = (d("__swy") - slope * d("__swx")) / d("__sw") / lit(1e6)
    g.select(groupBy.map(col) ++ Seq(col("n"),
      round(d("__sw") / lit(1e6), 6).as("w_sum"),
      when(varX > 0.0, round(slope, 6)).as("slope"),
      when(varX > 0.0, round(inter, 6)).as("intercept")): _*)
  }

  /** The shared Newton fit behind [[logisticNewton]], [[poissonNewton]]
    * and the causal family: fits (b₀, b₁) of a single-feature GLM on a
    * frame with `__y`/`__x` columns, carrying the coefficients as nano
    * integers between the map-combined five-sum scans. `link` maps the
    * linear predictor η = b₀ + b₁·x to the per-row residual y − μ and
    * Newton weight. At most `iterations` scans: the loop stops at the
    * exact fixed point (a round that moves neither nano coefficient),
    * or at the first degenerate round. Returns (b0_nano, b1_nano,
    * degenerate).
    */
  private def newtonFitNano(name: String, base: DataFrame, iterations: Int)(
      link: Column => (Column, Column)): (Long, Long, Boolean) =
    Observe.iterate(name, (0L, 0L, false), iterations) { case (b0n, b1n, _) =>
      val (resid, w) = link(lit(b0n.toDouble / 1e9) + lit(b1n.toDouble / 1e9) * col("__x"))
      val r = Observe.scalars(base,
        sum(nano(resid)).as("g0"),
        sum(nano(col("__x") * resid)).as("g1"),
        sum(nano(w)).as("h00"),
        sum(nano(col("__x") * w)).as("h01"),
        sum(nano(col("__x") * col("__x") * w)).as("h11"))
      def dbl(i: Int): Double =
        if (r.isNullAt(i)) 0.0 else r.getDecimal(i).doubleValue() / 1e9
      val (g0, g1, h00, h01, h11) = (dbl(0), dbl(1), dbl(2), dbl(3), dbl(4))
      val det = h00 * h11 - h01 * h01
      def toNanos(d: Double): Long =
        BigDecimal(d * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      if (!(det > 0.0)) (b0n, b1n, true)
      else (b0n + toNanos((h11 * g0 - h01 * g1) / det),
        b1n + toNanos((h00 * g1 - h01 * g0) / det), false)
    }((prev, next) => next._3 || prev == next)._1

  /** [[newtonFitNano]] under the logit link: p = 1/(1 + e^−η), residual
    * y − p, weight p(1 − p).
    */
  private[ops] def logisticFitNano(base: DataFrame, iterations: Int): (Long, Long, Boolean) =
    newtonFitNano("logisticNewton", base, iterations) { eta =>
      val p = lit(1.0) / (lit(1.0) + exp(-eta))
      (col("__y") - p, p * (lit(1.0) - p))
    }

  /** Inverse-propensity-weighted (Hájek) average treatment effect with
    * an IN-ENGINE propensity model: P(treated | x) comes from
    * [[logisticNewton]]'s exact Newton loop (same nano-integer
    * coefficient carry, so an unrolled CTE chain replays the whole
    * pipeline — training AND weighting), propensities clip into
    * [0.01, 0.99] (the standard overlap trim, fixed so both engines
    * share the literal), and
    *
    *   ATE = Σ_T y/p̂ / Σ_T 1/p̂  −  Σ_C y/(1−p̂) / Σ_C 1/(1−p̂)
    *
    * — the self-normalizing Hájek form (weights sum to 1 per arm, so a
    * few extreme propensities cannot blow up the estimate the way
    * Horvitz-Thompson IPW does). One row:
    * `(n, n_treated, b0, b1, mu_treated, mu_control, ate)`, 6 dp;
    * null effect columns when the propensity fit is degenerate.
    *
    * Determinism: per-row weighted terms nano-quantize before the four
    * exact sums (order-free); the two means and their difference are
    * fixed IEEE trees.
    *
    * Scale shape: `iterations` training scans + ONE weighting scan,
    * every one map-side combined; 2 longs of driver state. The whole
    * causal pipeline — fit, clip, weight, contrast — never leaves the
    * engine and costs iterations+1 passes at any corpus size.
    */
  def ipwAte(df: DataFrame, treated: Column, outcome: Column, x: Column,
             iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    val base = df.select(
        when(treated, 1.0).otherwise(0.0).as("__y"),
        x.cast("double").as("__x"),
        outcome.cast("double").as("__o"))
      .filter(col("__y").isNotNull && col("__x").isNotNull && col("__o").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // released on every exit (r15, ADVICE r14): the fit runs driver-side
    // sweeps that can throw, and a leaked entry would both hold memory and
    // be silently REUSED by CacheManager's plan-keyed dedup for the rest
    // of the session; the lazy aggregation below reads the source
    val (b0n, b1n, degenerate) = Observe.releasing(base)(logisticFitNano(base, iterations))
    val b0 = b0n.toDouble / 1e9
    val b1 = b1n.toDouble / 1e9
    val p = lit(1.0) / (lit(1.0) + exp(-(lit(b0) + lit(b1) * col("__x"))))
    val pc = least(greatest(p, lit(0.01)), lit(0.99))
    val isT = col("__y") === 1.0
    val agg = base.agg(
      count(lit(1)).as("n"),
      sum(when(isT, 1L).otherwise(0L)).as("n_treated"),
      sum(when(isT, nano(col("__o") / pc)).otherwise(lit(0).cast(dec))).as("__ty"),
      sum(when(isT, nano(lit(1.0) / pc)).otherwise(lit(0).cast(dec))).as("__tw"),
      sum(when(!isT, nano(col("__o") / (lit(1.0) - pc)))
        .otherwise(lit(0).cast(dec))).as("__cy"),
      sum(when(!isT, nano(lit(1.0) / (lit(1.0) - pc)))
        .otherwise(lit(0).cast(dec))).as("__cw"))
    def d(c: String): Column = col(c).cast("double")
    val mu1 = d("__ty") / d("__tw")
    val mu0 = d("__cy") / d("__cw")
    val ok = lit(!degenerate) && col("__tw") > 0 && col("__cw") > 0
    agg.select(col("n"), col("n_treated"),
      when(lit(!degenerate), round(lit(b0), 6)).as("b0"),
      when(lit(!degenerate), round(lit(b1), 6)).as("b1"),
      when(ok, round(mu1, 6)).as("mu_treated"),
      when(ok, round(mu0, 6)).as("mu_control"),
      when(ok, round(mu1 - mu0, 6)).as("ate"))
  }

  /** Positivity / common-support audit — the assumption check EVERY
    * member of the causal family ([[ipwAte]], [[aipwAte]], [[psmAtt]])
    * silently rests on: are there treated AND control units at every
    * level of the propensity? Trains the same [[logisticFitNano]]
    * Newton propensity (identical nano-integer carry, so one unrolled
    * CTE chain replays it), clips to the family's [0.01, 0.99] overlap
    * trim, micro-quantizes p̂ (the [[psmAtt]] grid discipline), and
    * bins it into `bins` equal-width cells:
    *
    *   (bin, n_treated, n_control, share_t_micros, share_c_micros,
    *    min_share_micros)
    *
    * — one row per OCCUPIED bin. Bins where either count is 0 are the
    * positivity violations (IPW weights explode there; PSM finds no
    * match); Σ min-shares across bins is the overlap coefficient. All
    * shares emit as exact integral-division micros (no float surface).
    *
    * Raises on a degenerate propensity fit — an audit of a model that
    * did not train would read as a clean bill.
    *
    * Scale shape: `iterations` training scans + ONE binning
    * aggregation (≤ `bins` cells) + a grand-total broadcast. Nothing
    * shuffles row data; output is bin-bounded at any corpus size.
    */
  def positivityAudit(df: DataFrame, treated: Column, x: Column,
                      iterations: Int = 4, bins: Int = 20): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    require(bins >= 2 && bins <= 1000, s"bins out of range: $bins")
    val base = df.select(
        when(treated, 1.0).otherwise(0.0).as("__y"),
        x.cast("double").as("__x"))
      .filter(col("__y").isNotNull && col("__x").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // released on every exit (r15, ADVICE r14), the contract error included
    val g = Observe.releasing(base) {
      val (b0n, b1n, degenerate) = logisticFitNano(base, iterations)
      require(!degenerate,
        "positivityAudit: the propensity fit is degenerate (constant x?) — " +
          "an overlap audit of an untrained model would be vacuous")
      val b0 = b0n.toDouble / 1e9
      val b1 = b1n.toDouble / 1e9
      val p = lit(1.0) / (lit(1.0) + exp(-(lit(b0) + lit(b1) * col("__x"))))
      val pc = least(greatest(p, lit(0.01)), lit(0.99))
      base
        .select(col("__y"), round(pc * lit(1e6), 0).cast("long").as("__pm"))
        .select(col("__y"),
          least(expr(s"(__pm * $bins) div 1000000"), lit((bins - 1).toLong))
            .as("bin"))
        .groupBy(col("bin")).agg(
          sum(when(col("__y") === 1.0, 1L).otherwise(0L)).as("n_treated"),
          sum(when(col("__y") === 1.0, 0L).otherwise(1L)).as("n_control"))
        // materialize now (tiny: ≤ bins rows) while base's cache is still
        // hot — g feeds BOTH the per-bin output and the grand-total pass,
        // and the eager checkpoint means neither recomputes the events
        // aggregation once base is released
        .localCheckpoint(true)
    }
    val tot = g.agg(sum(col("n_treated")).as("__nt_all"),
      sum(col("n_control")).as("__nc_all"))
    def share(cnt: String, all: String): Column =
      expr(s"(cast($cnt as decimal(38,0)) * 2000000 + $all) div " +
        s"(cast($all as decimal(38,0)) * 2)").cast("long")
    g.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_treated"), col("n_control"),
        when(col("__nt_all") > 0, share("n_treated", "__nt_all"))
          .as("share_t_micros"),
        when(col("__nc_all") > 0, share("n_control", "__nc_all"))
          .as("share_c_micros"),
        when(col("__nt_all") > 0 && col("__nc_all") > 0,
          least(share("n_treated", "__nt_all"), share("n_control", "__nc_all")))
          .as("min_share_micros"))
      .orderBy(col("bin"))
  }

  /** Covariate-balance audit — the table every causal readout is
    * reviewed against: per covariate, the standardized mean difference
    *
    *   SMD = (μ_t − μ_c) / √((σ²_t + σ²_c)/2)
    *
    * RAW and AFTER inverse-propensity weighting (w = 1/p̂ treated,
    * 1/(1−p̂) control — [[ipwAte]]'s Hájek weights from the same
    * [[logisticFitNano]] Newton fit and [0.01, 0.99] clip). |SMD| <
    * 0.1 is the conventional "balanced" bar; a weighted SMD that does
    * NOT shrink toward 0 says the propensity model is misspecified —
    * the diagnosis [[positivityAudit]]'s occupancy view can't make.
    *
    * One row per covariate: `(covariate, n_treated, n_control,
    * smd_raw, smd_weighted)`; null SMDs when an arm is empty or both
    * variances are 0. Variances are population (÷n) moments —
    * documented, matching the weighted form's Σw normalization.
    *
    * Determinism: per-row w, w·c, w·c² terms nano-quantize before the
    * exact DECIMAL sums (order-free); each SMD resolves through one
    * fixed IEEE tree at 6 dp. Rows with a null in ANY covariate drop
    * (one shared filter, so every covariate row reads the same
    * population).
    *
    * Scale shape: `iterations` training scans + ONE wide moment scan
    * (12 aggregates per covariate, all map-side combined into a single
    * row, exploded to `covariates.size` output rows on the driver
    * side of the plan). Nothing shuffles row data.
    */
  def covariateBalance(df: DataFrame, treated: Column, x: Column,
                       covariates: Seq[(String, Column)],
                       iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    require(covariates.nonEmpty && covariates.size <= 16,
      s"need 1..16 covariates: ${covariates.size}")
    require(covariates.map(_._1).distinct.size == covariates.size,
      "covariate names must be unique")
    val cNames = covariates.indices.map(i => s"__c$i")
    val base = df.select(
        (when(treated, 1.0).otherwise(0.0).as("__y") +:
          x.cast("double").as("__x") +:
          covariates.zip(cNames).map { case ((_, c), n) => c.cast("double").as(n) }): _*)
      .filter((col("__y").isNotNull +: col("__x").isNotNull +:
        cNames.map(col(_).isNotNull)).reduce(_ && _))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // released on every exit (r15, ADVICE r14), the contract error included
    val wide = Observe.releasing(base) {
      val (b0n, b1n, degenerate) = logisticFitNano(base, iterations)
      require(!degenerate,
        "covariateBalance: degenerate propensity fit — weighted balance " +
          "of an untrained model would be vacuous")
      val p = lit(1.0) / (lit(1.0) +
        exp(-(lit(b0n.toDouble / 1e9) + lit(b1n.toDouble / 1e9) * col("__x"))))
      val pc = least(greatest(p, lit(0.01)), lit(0.99))
      val isT = col("__y") === 1.0
      val w = when(isT, lit(1.0) / pc).otherwise(lit(1.0) / (lit(1.0) - pc))
      def arm(t: Boolean, c: Column): Column = if (t) when(isT, c) else when(!isT, c)
      def zsum(t: Boolean, c: Column, name: String): Column =
        sum(coalesce(arm(t, c), lit(0).cast(dec))).as(name)
      val aggs = covariates.zip(cNames).zipWithIndex.flatMap { case ((_, n), i) =>
        val c = col(n)
        Seq(
          sum(when(isT, 1L).otherwise(0L)).as(s"__nt$i"),
          sum(when(!isT, 1L).otherwise(0L)).as(s"__nc$i"),
          zsum(t = true, nano(c), s"__s1t$i"),
          zsum(t = true, nano(c * c), s"__s2t$i"),
          zsum(t = false, nano(c), s"__s1c$i"),
          zsum(t = false, nano(c * c), s"__s2c$i"),
          zsum(t = true, nano(w), s"__wt$i"),
          zsum(t = true, nano(w * c), s"__w1t$i"),
          zsum(t = true, nano(w * c * c), s"__w2t$i"),
          zsum(t = false, nano(w), s"__wc$i"),
          zsum(t = false, nano(w * c), s"__w1c$i"),
          zsum(t = false, nano(w * c * c), s"__w2c$i"))
      }
      // single-row result: materialize eagerly while base's cache is hot so
      // the returned lazy plan never re-reads the released source
      base.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
    }
    def d(n: String): Column = col(n).cast("double") / lit(1e9)
    def smd(s1t: String, s2t: String, dt: Column,
            s1c: String, s2c: String, dc: Column): Column = {
      val mt = d(s1t) / dt
      val mc = d(s1c) / dc
      val vt = d(s2t) / dt - mt * mt
      val vc = d(s2c) / dc - mc * mc
      when(vt + vc > 0.0, round((mt - mc) / sqrt((vt + vc) / lit(2.0)), 6))
    }
    val entries = covariates.zipWithIndex.map { case ((name, _), i) =>
      val nt = col(s"__nt$i").cast("double")
      val nc = col(s"__nc$i").cast("double")
      val ok = col(s"__nt$i") > 0L && col(s"__nc$i") > 0L
      struct(
        lit(name).as("covariate"),
        col(s"__nt$i").as("n_treated"),
        col(s"__nc$i").as("n_control"),
        when(ok, smd(s"__s1t$i", s"__s2t$i", nt, s"__s1c$i", s"__s2c$i", nc))
          .as("smd_raw"),
        when(ok && col(s"__wt$i") > 0 && col(s"__wc$i") > 0,
          smd(s"__w1t$i", s"__w2t$i", d(s"__wt$i"),
            s"__w1c$i", s"__w2c$i", d(s"__wc$i")))
          .as("smd_weighted"))
    }
    wide.select(explode(array(entries: _*)).as("e"))
      .select(col("e.covariate").as("covariate"),
        col("e.n_treated").as("n_treated"),
        col("e.n_control").as("n_control"),
        col("e.smd_raw").as("smd_raw"),
        col("e.smd_weighted").as("smd_weighted"))
      .orderBy(col("covariate"))
  }

  /** Doubly-robust (AIPW) average treatment effect — [[ipwAte]]'s
    * augmented sibling: the propensity model (the shared
    * [[logisticFitNano]] Newton loop, [0.01, 0.99] overlap clip) is
    * COMBINED with per-arm outcome regressions μ̂₁(x), μ̂₀(x) (closed-
    * form single-covariate OLS fit within each arm), and the estimator
    * is the efficient-influence-function mean
    *
    *   ψᵢ = μ̂₁(xᵢ) − μ̂₀(xᵢ) + Tᵢ(yᵢ−μ̂₁(xᵢ))/êᵢ − (1−Tᵢ)(yᵢ−μ̂₀(xᵢ))/(1−êᵢ)
    *   ATE = ψ̄,  se = √(Var(ψ)/n)
    *
    * — consistent if EITHER the propensity model OR the outcome model
    * is right (the "doubly robust" property), with a plug-in standard
    * error for free because ψ is an i.i.d. mean. `reg_ate` (the pure
    * outcome-regression contrast mean(μ̂₁−μ̂₀)) emits beside `ate` so
    * the size of the IPW correction is visible.
    *
    * An arm whose x is constant (OLS det ≤ 0) degrades to its arm-mean
    * model (slope 0, intercept ȳ_arm) — the estimator stays defined and
    * the DR property still holds through the propensity side.
    *
    * Determinism: the arm-OLS moments nano-quantize before exact
    * DECIMAL sums; slopes/intercepts resolve on the driver through one
    * fixed IEEE tree and re-enter the plan as nano-integer literals
    * (the [[logisticFitNano]] carry contract), so the oracle replays
    * training AND augmentation CTE-for-CTE; per-row ψ and ψ² nano-
    * quantize before the final exact sums.
    *
    * Scale shape: `iterations` propensity scans + ONE arm-moment scan +
    * ONE influence scan, all map-side combined to single rows; driver
    * state is six longs. Nothing shuffles row data at any corpus size.
    */
  def aipwAte(df: DataFrame, treated: Column, outcome: Column, x: Column,
              iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    def nanoLong(v: Double): Long =
      BigDecimal(v * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val base = df.select(
        when(treated, 1.0).otherwise(0.0).as("__y"),
        x.cast("double").as("__x"),
        outcome.cast("double").as("__o"))
      .filter(col("__y").isNotNull && col("__x").isNotNull && col("__o").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one scan: per-arm OLS moments (n, Σx, Σo, Σxo, Σx²), nano-exact
    val isT = col("__y") === 1.0
    def armSum(t: Boolean, c: Column, name: String): Column =
      sum(when(if (t) isT else !isT, nano(c)).otherwise(lit(0).cast(dec)))
        .as(name)
    // released on every exit (r15, ADVICE r14): the fit runs driver-side
    // sweeps that can throw; the lazy influence scan below reads the source
    val ((b0n, b1n, degenerate), m) = Observe.releasing(base) {
      (logisticFitNano(base, iterations), Observe.scalars(base,
        sum(when(isT, 1L).otherwise(0L)).as("n1"),
        sum(when(!isT, 1L).otherwise(0L)).as("n0"),
        armSum(t = true, col("__x"), "sx1"), armSum(t = true, col("__o"), "so1"),
        armSum(t = true, col("__x") * col("__o"), "sxo1"),
        armSum(t = true, col("__x") * col("__x"), "sxx1"),
        armSum(t = false, col("__x"), "sx0"), armSum(t = false, col("__o"), "so0"),
        armSum(t = false, col("__x") * col("__o"), "sxo0"),
        armSum(t = false, col("__x") * col("__x"), "sxx0")))
    }
    val n1 = m.getLong(0)
    val n0 = m.getLong(1)
    def dv(i: Int): Double =
      if (m.isNullAt(i)) 0.0 else m.getDecimal(i).doubleValue() / 1e9
    // closed-form per-arm fit; constant-x arm -> mean model
    def fit(nd: Double, sx: Double, so: Double, sxo: Double,
            sxx: Double): (Long, Long) = {
      val det = nd * sxx - sx * sx
      if (det > 0.0) {
        val s = (nd * sxo - sx * so) / det
        (nanoLong(s), nanoLong((so - s * sx) / nd))
      } else (0L, nanoLong(so / nd))
    }
    val ok = !degenerate && n1 > 0L && n0 > 0L
    val (s1n, a1n) =
      if (n1 > 0L) fit(n1.toDouble, dv(2), dv(3), dv(4), dv(5)) else (0L, 0L)
    val (s0n, a0n) =
      if (n0 > 0L) fit(n0.toDouble, dv(6), dv(7), dv(8), dv(9)) else (0L, 0L)
    // influence scan with all six fitted scalars as nano literals
    val b0 = b0n.toDouble / 1e9
    val b1 = b1n.toDouble / 1e9
    val p = lit(1.0) / (lit(1.0) + exp(-(lit(b0) + lit(b1) * col("__x"))))
    val pc = least(greatest(p, lit(0.01)), lit(0.99))
    val mu1 = lit(a1n.toDouble / 1e9) + lit(s1n.toDouble / 1e9) * col("__x")
    val mu0 = lit(a0n.toDouble / 1e9) + lit(s0n.toDouble / 1e9) * col("__x")
    val psi = mu1 - mu0 +
      when(isT, (col("__o") - mu1) / pc)
        .otherwise(-(col("__o") - mu0) / (lit(1.0) - pc))
    val agg = base.agg(
      count(lit(1)).as("n"),
      sum(when(isT, 1L).otherwise(0L)).as("n_treated"),
      sum(nano(psi)).as("__ps"),
      sum(nano(psi * psi)).as("__ps2"),
      sum(nano(mu1 - mu0)).as("__reg"))
    def d(c: String): Column = col(c).cast("double") / lit(1e9)
    val nd = col("n").cast("double")
    val mean = d("__ps") / nd
    val varPsi = d("__ps2") / nd - mean * mean
    agg.select(col("n"), col("n_treated"),
      when(lit(!degenerate), round(lit(b0), 6)).as("b0"),
      when(lit(!degenerate), round(lit(b1), 6)).as("b1"),
      when(lit(ok), round(d("__reg") / nd, 6)).as("reg_ate"),
      when(lit(ok), round(mean, 6)).as("ate"),
      when(lit(ok) && varPsi >= 0.0, round(sqrt(varPsi / nd), 6)).as("se"))
  }

  /** Propensity-score 1-NN caliper matching (ATT) with the propensity
    * trained in the engine — the third member of the causal family
    * ([[ipwAte]] reweights, [[aipwAte]] augments, this one MATCHES):
    * every treated unit pairs with the nearest control in propensity
    * space (with replacement), pairs farther than `caliperMicros`
    * drop, and
    *
    *   ATT = mean over matched treated of (y_t − y_matched control)
    *
    * Matching runs on the MICRO-QUANTIZED propensity grid: rows
    * collapse to their distinct propensity values first (treated side
    * keeps (n, Σy) per value; control side keeps the min-id
    * representative per value — the deterministic stand-in for "a"
    * nearest control), so the nearest-neighbor window scans a table
    * bounded by the propensity domain (≤ 10⁶+1 rows), never by
    * subjects — the [[graft.ops.Survival.kaplanMeier]] bin-table
    * doctrine. Nearest = smaller |Δpm|, ties to the LOWER propensity.
    *
    * Returns one row `(n, n_treated, n_matched, b0, b1, att)`; null
    * effect columns when the fit is degenerate or no pair survives the
    * caliper.
    *
    * Determinism: the grid is integer micros; the representative is
    * min-id (unique); outcome sums nano-quantize before exact DECIMAL
    * sums; the single ordered window runs over the bounded grid.
    *
    * Scale shape: `iterations` training scans + one grid-collapse
    * aggregation + one window over the ≤ 2·10⁶-row grid + one final
    * one-row aggregation. No shuffle carries subject-level rows past
    * the collapse.
    */
  def psmAtt(df: DataFrame, id: Column, treated: Column, outcome: Column,
             x: Column, caliperMicros: Long = 50000L,
             iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    require(caliperMicros > 0L, s"caliperMicros must be positive: $caliperMicros")
    val base = df.select(
        id.cast("long").as("__id"),
        when(treated, 1.0).otherwise(0.0).as("__y"),
        x.cast("double").as("__x"),
        outcome.cast("double").as("__o"))
      .filter(col("__id").isNotNull && col("__y").isNotNull &&
        col("__x").isNotNull && col("__o").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // released on every exit (r15, ADVICE r14): the fit runs driver-side
    // sweeps that can throw; the lazy plan below reads the source
    val (b0n, b1n, degenerate) = Observe.releasing(base)(logisticFitNano(base, iterations))
    val b0 = b0n.toDouble / 1e9
    val b1 = b1n.toDouble / 1e9
    val p = lit(1.0) / (lit(1.0) + exp(-(lit(b0) + lit(b1) * col("__x"))))
    val pm = round(p * lit(1e6), 0).cast("long")
    val isT = col("__y") === 1.0
    // collapse to the distinct-propensity grid per arm
    val grid = base.select(pm.as("pm"), isT.as("t"), col("__id"), col("__o"))
      .groupBy(col("pm"), col("t"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("t"), nano(col("__o"))).otherwise(lit(0).cast(dec)))
          .as("t_sum"),
        min_by(nano(col("__o")), col("__id")).as("rep_o"))
    val totals = base.agg(
      count(lit(1)).as("n"), sum(when(isT, 1L).otherwise(0L)).as("n_treated"))
    // nearest control pm for every treated pm: one ordered window over
    // the bounded grid; controls sort before treated at equal pm
    // (false < true) so a zero-distance match IS the previous row
    val w = Window.orderBy(col("pm"), col("t"))
    val ctrlHere = when(!col("t"), struct(col("pm").as("cpm"), col("rep_o")))
    val prevC = last(ctrlHere, ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val nextC = first(ctrlHere, ignoreNulls = true)
      .over(w.rowsBetween(1, Window.unboundedFollowing))
    val matched = grid
      .withColumn("__prev", prevC)
      .withColumn("__next", nextC)
      .filter(col("t"))
      .withColumn("__dp", when(col("__prev").isNotNull,
        col("pm") - col("__prev.cpm")))
      .withColumn("__dn", when(col("__next").isNotNull,
        col("__next.cpm") - col("pm")))
      .withColumn("__use_prev",
        col("__dp").isNotNull && (col("__dn").isNull || col("__dp") <= col("__dn")))
      .withColumn("__d",
        when(col("__use_prev"), col("__dp")).otherwise(col("__dn")))
      .withColumn("__mrep",
        when(col("__use_prev"), col("__prev.rep_o")).otherwise(col("__next.rep_o")))
      .filter(col("__d").isNotNull && col("__d") <= lit(caliperMicros))
    val att = matched.agg(
      sum(col("cnt")).as("__nm"),
      sum(col("t_sum")).as("__ty"),
      sum(col("__mrep") * col("cnt").cast(dec)).as("__cy"))
    val ok = lit(!degenerate)
    totals.crossJoin(att).select(
      col("n"), col("n_treated"),
      coalesce(col("__nm"), lit(0L)).as("n_matched"),
      when(ok, round(lit(b0), 6)).as("b0"),
      when(ok, round(lit(b1), 6)).as("b1"),
      when(ok && col("__nm").isNotNull && col("__nm") > 0L,
        round((col("__ty").cast("double") / lit(1e9)
            - col("__cy").cast("double") / lit(1e9))
          / col("__nm").cast("double"), 6)).as("att"))
  }

  /** Two-way fixed-effects (within) estimator — the panel-data
    * workhorse behind modern DiD: regress y on x after absorbing
    * entity AND time fixed effects via double demeaning,
    *
    *   ỹ_it = y_it − ȳ_i − ȳ_t + ȳ,  β̂ = Σx̃ỹ / Σx̃²
    *
    * (numerically identical to OLS with entity+time dummies, without
    * materializing a dummy for every entity). Returns one row
    * `(n, n_entities, n_periods, beta, se)` with the homoskedastic SE
    * on the within residual dof n − N_i − N_t + 1; null when x has no
    * within variation (x̃ ≡ 0 — an x collinear with the fixed effects).
    *
    * Determinism: entity/time/grand sums are exact DECIMAL nano
    * aggregates; each mean is one double division replayed verbatim;
    * per-row x̃ỹ / x̃² / residual terms nano-quantize before the exact
    * final sums; β and SE are fixed IEEE trees.
    *
    * Scale shape: THREE keyed aggregations (entity, time, grand — the
    * entity table is a keyed JOIN back, never driver state; the time
    * table broadcasts) + ONE moment scan. Nothing materializes a
    * dummy-variable design matrix — the absorption IS the algebra.
    */
  def twoWayFixedEffects(df: DataFrame, entity: Column, time: Column,
                         y: Column, x: Column): DataFrame = {
    val base = df.select(entity.as("__i"), time.as("__t"),
        y.cast("double").as("__y"), x.cast("double").as("__x"))
      .filter(col("__i").isNotNull && col("__t").isNotNull &&
        col("__y").isNotNull && col("__x").isNotNull)
    val ent = base.groupBy(col("__i")).agg(count(lit(1)).as("__ni"),
      sum(nano(col("__y"))).as("__syi"), sum(nano(col("__x"))).as("__sxi"))
    val tim = base.groupBy(col("__t")).agg(count(lit(1)).as("__nt"),
      sum(nano(col("__y"))).as("__syt"), sum(nano(col("__x"))).as("__sxt"))
    val grand = base.agg(count(lit(1)).as("__n"),
      sum(nano(col("__y"))).as("__sy"), sum(nano(col("__x"))).as("__sx"))
    def mean(s: String, n: String): Column =
      col(s).cast("double") / lit(1e9) / col(n).cast("double")
    val yt = col("__y") - mean("__syi", "__ni") - mean("__syt", "__nt") +
      mean("__sy", "__n")
    val xt = col("__x") - mean("__sxi", "__ni") - mean("__sxt", "__nt") +
      mean("__sx", "__n")
    val m = base.join(ent, Seq("__i")).join(broadcast(tim), Seq("__t"))
      .crossJoin(broadcast(grand))
      .agg(sum(nano(xt * yt)).as("__sxy"), sum(nano(xt * xt)).as("__sxx"),
        sum(nano(yt * yt)).as("__syy"))
    val counts = base.agg(count(lit(1)).as("n"),
      countDistinct(col("__i")).as("n_entities"),
      countDistinct(col("__t")).as("n_periods"))
    def d(c: String): Column = col(c).cast("double") / lit(1e9)
    val beta = d("__sxy") / d("__sxx")
    val dof = col("n").cast("double") - col("n_entities").cast("double") -
      col("n_periods").cast("double") + lit(1.0)
    val sig2 = (d("__syy") - beta * d("__sxy")) / dof
    val ok = col("__sxx") > 0 && dof > 0.0
    counts.crossJoin(m).select(col("n"), col("n_entities"), col("n_periods"),
      when(ok, round(beta, 6)).as("beta"),
      when(ok && sig2 >= 0.0, round(sqrt(sig2 / d("__sxx")), 6)).as("se"))
  }

  /** Deterministic RANSAC line fit — robust regression by CONSENSUS
    * where [[Regression.groupOls]] is leverage-fragile and Theil-Sen /
    * Huber trade breakdown for speed: `candidates` two-point model
    * hypotheses come from an md5-ordered deterministic sample (the
    * q_split selection discipline — no RNG, same candidates on every
    * engine and every run), each hypothesis line is scored by its
    * INLIER count (|y − (a + bx)| ≤ ε), and the best-consensus line is
    * refit by closed-form OLS on its own inliers. One row:
    * `(n, n_candidates, best_candidate, n_inliers, b0, b1)`; empty
    * when every candidate pair is x-degenerate (documented: feed more
    * candidates or dedup x upstream).
    *
    * Determinism: the sample is a plan-time LIMIT over (md5, id)
    * order; hypothesis (a, b) are fixed IEEE trees on exact inputs;
    * the inlier test compares identical doubles against the ε literal;
    * ties in consensus break to the lower candidate index; refit
    * moments nano-quantize before exact sums.
    *
    * Scale shape: one TakeOrdered(2·candidates) sample, a window over
    * that ≤ 2·candidates-row table, ONE broadcast of ≤ `candidates`
    * lines against the data for scoring (a scan, not a join explosion)
    * and one refit scan. Two passes over the data total, at any scale.
    */
  def ransacLine(df: DataFrame, id: Column, x: Column, y: Column,
                 candidates: Int = 16, epsMicros: Long = 500000L): DataFrame = {
    require(candidates >= 1 && candidates <= 256,
      s"candidates out of range: $candidates")
    require(epsMicros > 0L, s"epsMicros must be positive: $epsMicros")
    val eps = lit(epsMicros.toDouble / 1e6)
    val base = df.select(id.cast("string").as("__id"),
        x.cast("double").as("__x"), y.cast("double").as("__y"))
      .filter(col("__id").isNotNull && col("__x").isNotNull && col("__y").isNotNull)
    val samp = base
      .withColumn("__h", md5(concat(lit("ransac:"), col("__id"))))
      .orderBy(col("__h"), col("__id")).limit(2 * candidates)
    val w = Window.orderBy(col("__h"), col("__id"))
    val paired = samp.withColumn("__rn", row_number().over(w))
      .withColumn("__c", expr("(__rn - 1) div 2"))
    val lines = paired.groupBy(col("__c")).agg(
        max(when(col("__rn") % 2 === 1, col("__x"))).as("__x1"),
        max(when(col("__rn") % 2 === 1, col("__y"))).as("__y1"),
        max(when(col("__rn") % 2 === 0, col("__x"))).as("__x2"),
        max(when(col("__rn") % 2 === 0, col("__y"))).as("__y2"))
      .filter(col("__x2").isNotNull && col("__x1") =!= col("__x2"))
      .withColumn("__b", (col("__y2") - col("__y1")) / (col("__x2") - col("__x1")))
      .withColumn("__a", col("__y1") - col("__b") * col("__x1"))
      .select(col("__c"), col("__a"), col("__b"))
    val isIn = abs(col("__y") - (col("__a") + col("__b") * col("__x"))) <= eps
    val best = base.crossJoin(broadcast(lines))
      .groupBy(col("__c"), col("__a"), col("__b"))
      .agg(sum(when(isIn, 1L).otherwise(0L)).as("n_inliers"))
      .orderBy(col("n_inliers").desc, col("__c")).limit(1)
    val refit = base.crossJoin(broadcast(best))
      .filter(isIn)
      .agg(count(lit(1)).as("__m"),
        sum(nano(col("__x"))).as("__sx"), sum(nano(col("__y"))).as("__sy"),
        sum(nano(col("__x") * col("__y"))).as("__sxy"),
        sum(nano(col("__x") * col("__x"))).as("__sxx"))
    val totals = base.agg(count(lit(1)).as("n"))
    def d(c: String): Column = col(c).cast("double") / lit(1e9)
    val md = col("__m").cast("double")
    val det = md * d("__sxx") - d("__sx") * d("__sx")
    val b1 = (md * d("__sxy") - d("__sx") * d("__sy")) / det
    val b0 = (d("__sy") - b1 * d("__sx")) / md
    totals.crossJoin(best).crossJoin(refit)
      .select(col("n"), lit(candidates).cast("long").as("n_candidates"),
        col("__c").as("best_candidate"), col("n_inliers"),
        when(det > 0.0, round(b0, 6)).as("b0"),
        when(det > 0.0, round(b1, 6)).as("b1"))
  }

  /** Single-feature logistic regression TRAINED IN THE ENGINE — up to
    * `iterations` Newton–Raphson (IRLS) steps on ln p/(1−p) = b₀ + b₁·x,
    * each step ONE map-side-combined aggregation of five score/Hessian
    * sums followed by the closed-form 2×2 solve:
    *
    *   g = Σ(y−p), Σx(y−p);  H = Σw, Σxw, Σx²w,  w = p(1−p)
    *   Δb = H⁻¹g  (det-form),  b ← b + Δb
    *
    * The bridge between [[graft.queries.TextQueries]]' fixed-weight
    * scorer (inference only) and real in-cluster training: at most
    * `iterations` passes over the data, TWO scalars of driver state
    * (the [[graft.text.Bpe]] bounded-collect posture), no solver library. Newton on
    * a concave log-likelihood is quadratically convergent — 4 steps
    * reach 6-dp stability on anything non-separable.
    *
    * Returns one row `(n, n_pos, b0, b1, ll)` with the final
    * log-likelihood (natural units). Degenerate inputs (all one class,
    * constant x) keep det ≤ 0 or w ≡ 0 and emit the safe all-null
    * coefficient row.
    *
    * Determinism: coefficients carry between iterations as NANO-
    * quantized integers; within an iteration every per-row term (y−p,
    * x(y−p), w, xw, x²w, per-row log-likelihood) nano-quantizes before
    * the exact DECIMAL sums, and the driver-side 2×2 solve is the same
    * fixed IEEE tree the oracle replays CTE-for-CTE (the [[graft.text
    * .Cluster.kmeansInt]] iterative-replay contract).
    *
    * Scale shape: at most `iterations` scans, stopping at the exact fixed
    * point (a round that moves neither nano coefficient), each with
    * map-side combine to ONE row — embarrassingly parallel, no shuffle
    * of row data, state on the driver is 2 longs.
    */
  def logisticNewton(df: DataFrame, label: Column, x: Column,
                     iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    val base = df
      .select(when(label, 1.0).otherwise(0.0).as("__y"), x.cast("double").as("__x"))
      .filter(col("__y").isNotNull && col("__x").isNotNull)
      // the causal-family persist discipline (ipwAte/aipwAte/psmAtt):
      // the Newton loop aggregates base once per iteration — cache the
      // 16-byte (y, x) projection so the input scans once, not 4×
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // released on every exit (r15, ADVICE r14): the fit runs driver-side
    // sweeps that can throw; the lazy plan below reads the source
    val (b0n, b1n, degenerate) = Observe.releasing(base)(logisticFitNano(base, iterations))
    val b0 = b0n.toDouble / 1e9
    val b1 = b1n.toDouble / 1e9
    val z = lit(b0) + lit(b1) * col("__x")
    // per-row log-likelihood y·z − ln(1+eᶻ), nano-quantized before the sum
    val ll = col("__y") * z - log(lit(1.0) + exp(z))
    val fin = base.agg(
      count(lit(1)).as("n"),
      sum(col("__y").cast("long")).as("n_pos"),
      sum(nano(ll)).as("__ll"))
    val ok = lit(!degenerate)
    fin.select(col("n"), col("n_pos"),
      when(ok, round(lit(b0), 6)).as("b0"),
      when(ok, round(lit(b1), 6)).as("b1"),
      when(ok, round(col("__ll").cast("double") / lit(1e9), 6)).as("ll"))
  }

  /** Single-feature POISSON regression trained in the engine —
    * [[logisticNewton]]'s count-data sibling: Newton–Raphson on the
    * log-link ln λ = b₀ + b₁·x, score g = (Σ(y−λ), Σx(y−λ)), Hessian
    * H = (Σλ, Σxλ, Σx²λ), the same det-form 2×2 solve, the same
    * nano-integer coefficient carry and CTE-replayable iteration
    * contract. The GLM for "how MANY" where logistic answers "whether"
    * — purchase counts, defect counts, arrivals.
    *
    * Returns one row `(n, y_sum, b0, b1, ll)`; ll is the log-likelihood
    * up to the Σln y! constant (the deviance-relevant part). Degenerate
    * designs (constant x) emit null coefficients. Canonical-link Newton
    * = Fisher scoring here, so steps are stable whenever x is bounded
    * (cap or log-transform unbounded covariates — λ exponentiates).
    *
    * Determinism and scale shape: exactly [[logisticNewton]] (the one
    * Newton fit under the log link) — at most `iterations` map-combined
    * five-sum scans, stopping at the exact fixed point, per-term nano
    * quantization, 2 longs of driver state.
    */
  def poissonNewton(df: DataFrame, yCount: Column, x: Column,
                    iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    val base = df
      .select(yCount.cast("double").as("__y"), x.cast("double").as("__x"))
      .filter(col("__y").isNotNull && col("__y") >= 0.0 && col("__x").isNotNull)
    val (b0n, b1n, degenerate) = newtonFitNano("poissonNewton", base, iterations) { eta =>
      val lam = exp(eta)
      (col("__y") - lam, lam)
    }
    val b0 = b0n.toDouble / 1e9
    val b1 = b1n.toDouble / 1e9
    val z = lit(b0) + lit(b1) * col("__x")
    // Poisson ll up to Σ ln y!: y·z − λ, nano-quantized before the sum
    val ll = col("__y") * z - exp(z)
    val fin = base.agg(
      count(lit(1)).as("n"),
      sum(col("__y").cast("long")).as("y_sum"),
      sum(nano(ll)).as("__ll"))
    val ok = lit(!degenerate)
    fin.select(col("n"), col("y_sum"),
      when(ok, round(lit(b0), 6)).as("b0"),
      when(ok, round(lit(b1), 6)).as("b1"),
      when(ok, round(col("__ll").cast("double") / lit(1e9), 6)).as("ll"))
  }

  /** Bradley–Terry preference strengths — the model behind every
    * pairwise-preference leaderboard (chess Elo's static sibling, the
    * reward-model layer of RLHF pipelines): from win counts w_ij,
    * find strengths θ with P(i beats j) = θᵢ/(θᵢ+θⱼ) via Hunter's MM
    * iteration
    *
    *   θᵢ ← Wᵢ / Σ_{j≠i} n_ij/(θᵢ+θⱼ),   then normalize Σθ = 1
    *
    * (Wᵢ = total wins, n_ij = games between i and j; each sweep
    * monotonically increases the likelihood). Returns one row per item:
    * `(item, wins, games, theta, iters_run)`, θ summing to 1, ordered
    * by θ descending for the leaderboard read. Items that never won
    * keep θ → 0 (their MM numerator is 0 — the standard degeneracy;
    * drop never-winners upstream if full support is required).
    *
    * Determinism: the pairwise count table collects under the
    * bounded-driver-state contract (items² cells — the
    * [[graft.ops.Funnel.stationaryDistribution]] posture), and r12
    * makes the contract a hard `require`, not a docstring: one cheap
    * distributed count of the duel cells and of the distinct items
    * runs BEFORE the collect (the quadPairCount discipline,
    * [[graft.text.Fuzzy]]), failing with a contract error instead of
    * an OOM when someone points this at raw user-ids; θ carries
    * between sweeps as integer `unit`-ths; within a sweep every
    * n_ij/(θᵢ+θⱼ) term nano-quantizes before an EXACT integer sum
    * (so j-order cannot matter), W/denom and the normalization are
    * fixed IEEE trees, and the re-quantized θ replays CTE-for-CTE.
    *
    * Scale shape: ONE distributed (winner, loser) counting pass;
    * everything after runs on the items²-bounded table on the driver —
    * zero per-sweep Spark jobs.
    */
  def bradleyTerry(df: DataFrame, winnerCol: Column, loserCol: Column,
                   iterations: Int = 8,
                   unit: Long = 1000000000000L,
                   tolUnits: Long = 0L,
                   maxItems: Int = 10000): DataFrame = {
    require(iterations >= 1 && iterations <= 32,
      s"iterations out of range: $iterations")
    require(tolUnits >= 0L, s"tolUnits must be non-negative: $tolUnits")
    require(maxItems >= 2, s"maxItems must be >= 2: $maxItems")
    val spark = df.sparkSession
    val cells = df
      .select(winnerCol.cast("string").as("__w"), loserCol.cast("string").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull && col("__w") =!= col("__l"))
      .groupBy(col("__w"), col("__l")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the contract error is an EXPECTED exit path — the cache entry is
    // released on it too (the logisticNewton r15 discipline)
    val wins: Array[(String, String, Long)] = Observe.releasing(cells) {
      // hard bounded-panel contract (r12): count the panel distributed,
      // BEFORE anything reaches the driver — a contract error, not an OOM
      val nItems = Observe.rowCount(cells.select(col("__w").as("__i"))
        .union(cells.select(col("__l"))).distinct())
      require(nItems <= maxItems.toLong,
        s"bradleyTerry materializes an items²-bounded duel table on the " +
          s"driver; got $nItems distinct items (cap $maxItems). Aggregate " +
          s"to a bounded panel (models, variants, players) first — raw " +
          s"entity ids are not a panel.")
      cells.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
    val items = (wins.map(_._1) ++ wins.map(_._2)).distinct.sorted.toSeq
    val winTot: Map[String, Long] =
      wins.groupBy(_._1).map { case (i, ws) => i -> ws.map(_._3).sum }
    val games = scala.collection.mutable.Map.empty[(String, String), Long]
    wins.foreach { case (w, l, n) =>
      val key = if (w < l) (w, l) else (l, w)
      games(key) = games.getOrElse(key, 0L) + n
    }
    val k = math.max(items.length, 1)
    // convergence contract (r12, the q_stationary discipline): with
    // tolUnits > 0 the MM stops once max_i |Δθ_i| < tolUnits and
    // iters_run reports the data-dependent sweep count; tolUnits = 0
    // always pays `iterations`. Exact-integer check — engine-free.
    val (theta, sweeps) = Observe.iterate("bradleyTerry",
        items.map(i => i -> unit / k).toMap, iterations) { theta =>
      // raw_i = W_i / (Σ_j nano(n_ij/(θ_i+θ_j)) / 1e9) — the denominator
      // sum is an exact integer, so j-order is irrelevant
      val raw: Seq[(String, Double)] = items.map { i =>
        val thI = theta(i).toDouble / unit.toDouble
        val denomNano: Long = items.filter(_ != i).map { j =>
          val key = if (i < j) (i, j) else (j, i)
          games.get(key).fold(0L) { n =>
            val thJ = theta(j).toDouble / unit.toDouble
            BigDecimal(n.toDouble / (thI + thJ) * 1e9)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          }
        }.sum
        val w = winTot.getOrElse(i, 0L)
        i -> (if (denomNano > 0L && w > 0L)
          w.toDouble / (denomNano.toDouble / 1e9) else 0.0)
      }
      // normalize on nano-quantized raws (exact integer total)
      val rawNano: Seq[(String, Long)] = raw.map { case (i, r) =>
        i -> BigDecimal(r * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      val tot = rawNano.map(_._2).sum
      rawNano.map { case (i, r) =>
        i -> (if (tot > 0L)
          BigDecimal(r.toDouble / tot.toDouble * unit.toDouble)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        else unit / k)
      }.toMap
    }((prev, next) => tolUnits > 0L &&
      items.foldLeft(0L)((m, i) => math.max(m, math.abs(next(i) - prev(i)))) < tolUnits)
    val gamesTot: Map[String, Long] = items.map { i =>
      i -> games.collect { case ((a, b), n) if a == i || b == i => n }.sum
    }.toMap
    import spark.implicits._
    items.map { i =>
      (i, winTot.getOrElse(i, 0L), gamesTot(i),
        BigDecimal(theta(i).toDouble / unit.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        sweeps.toLong)
    }.sortBy(r => (-r._4, r._1))
      .toDF("item", "wins", "games", "theta", "iters_run")
  }
}