package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival analysis over right-censored durations — retention/churn
  * curves ("what fraction of users survive past day t?") where naive
  * averages are biased by subjects still alive at observation end.
  *
  * Not in the reference; engine extension (SURVEY §2.11).
  */
object Survival {

  /** Kaplan-Meier product-limit estimator: one row per subject in
    * (`duration`, `event`) — event 1 = the terminal event was OBSERVED
    * at `duration`, 0 = censored there (still alive when observation
    * ended; it leaves the risk set without dropping the curve).
    * Returns per distinct duration `(t, n_risk, n_event, n_censor,
    * survival)` with
    *
    *   S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)
    *
    * — the curve steps down only at event times; censoring shrinks the
    * later risk sets instead.
    *
    * Determinism: nᵢ and dᵢ are exact longs; each factor's
    * `ln((n−d)/n)` takes an argument built by ONE double division of
    * exact integers (identical in every engine), nano-quantizes, and
    * prefix-sums exactly; one final `exp`, 6 dp. A time where d = n
    * (everyone left by event) zeroes the curve exactly from there on
    * (the log path would be −∞) via a prefix max flag.
    *
    * Scale shape: one map-side-combined aggregation keyed on duration
    * reduces subjects to the duration-level table; the three
    * whole-frame windows (risk set, log prefix, zero flag) run over
    * THAT table — rows = distinct durations, bounded by the time
    * domain, never by subjects (the q_drift bin-table doctrine).
    */
  def kaplanMeier(df: DataFrame, duration: Column, event: Column): DataFrame = {
    val byT = df
      .select(duration.cast("long").as("t"), event.cast("long").as("__e"))
      .groupBy(col("t"))
      .agg(sum(col("__e")).as("n_event"), count(lit(1)).as("__leave"))
    val W = Window.orderBy(col("t"))
    val before = W.rowsBetween(Window.unboundedPreceding, -1)
    val upto = W.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = byT.agg(sum(col("__leave")).as("__N"))
    val lnArg = (col("n_risk") - col("n_event")).cast("double") /
      col("n_risk").cast("double")
    val lnTerm = when(col("n_event") > 0 && col("n_event") < col("n_risk"),
      round(log(lnArg) * lit(1e9), 0).cast("long")).otherwise(lit(0L))
    byT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__N") - coalesce(sum(col("__leave")).over(before), lit(0L)))
      .withColumn("n_censor", col("__leave") - col("n_event"))
      .withColumn("__cln", sum(lnTerm).over(upto))
      .withColumn("__zero", max(
        when(col("n_event") === col("n_risk") && col("n_event") > 0, 1L)
          .otherwise(0L)).over(upto))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censor"),
        when(col("__zero") === 1L, lit(0.0))
          .otherwise(round(exp(col("__cln").cast("double") / lit(1e9)), 6))
          .as("survival"))
  }

  /** Nelson-Aalen cumulative hazard — [[kaplanMeier]]'s additive
    * companion (H(t) estimates cumulative RISK; −ln S approximates it,
    * but NA is the direct estimator with better small-risk-set
    * behavior):
    *
    *   H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ ,  Var = Σ dᵢ/nᵢ²
    *
    * Returns per distinct duration `(t, n_risk, n_event, n_censor,
    * hazard, hazard_se)`, 6 dp.
    *
    * Determinism: each step's d/n and d/n² are fixed IEEE trees over
    * exact longs, nano-quantized before the exact prefix sums — the
    * [[kaplanMeier]] discipline with the exp/ln dropped (hazard is
    * additive, so no log detour is needed).
    *
    * Scale shape: identical to [[kaplanMeier]] — duration-keyed
    * reduction, whole-frame windows bounded by distinct durations.
    */
  def nelsonAalen(df: DataFrame, duration: Column, event: Column): DataFrame = {
    val byT = df
      .select(duration.cast("long").as("t"), event.cast("long").as("__e"))
      .groupBy(col("t"))
      .agg(sum(col("__e")).as("n_event"), count(lit(1)).as("__leave"))
    val W = Window.orderBy(col("t"))
    val before = W.rowsBetween(Window.unboundedPreceding, -1)
    val upto = W.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = byT.agg(sum(col("__leave")).as("__N"))
    val hTerm = when(col("n_event") > 0,
      round(col("n_event").cast("double") / col("n_risk").cast("double")
        * lit(1e9), 0).cast("long")).otherwise(lit(0L))
    val vTerm = when(col("n_event") > 0,
      round(col("n_event").cast("double")
        / (col("n_risk").cast("double") * col("n_risk").cast("double"))
        * lit(1e9), 0).cast("long")).otherwise(lit(0L))
    byT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__N") - coalesce(sum(col("__leave")).over(before), lit(0L)))
      .withColumn("n_censor", col("__leave") - col("n_event"))
      .withColumn("__ch", sum(hTerm).over(upto))
      .withColumn("__cv", sum(vTerm).over(upto))
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censor"),
        round(col("__ch").cast("double") / lit(1e9), 6).as("hazard"),
        round(sqrt(col("__cv").cast("double") / lit(1e9)), 6).as("hazard_se"))
  }

  /** Aalen-Johansen cumulative incidence for COMPETING risks —
    * [[kaplanMeier]]'s multi-cause generalization: when a subject can
    * exit by one of several terminal causes (churn-as-buyer vs
    * churn-as-lurker, device failure vs replacement), 1 − KM of each
    * cause alone OVERSTATES its risk (it treats the other cause as
    * censoring). The cumulative incidence of cause k is
    *
    *   CIF_k(t) = Σ_{s ≤ t} S(s−) · d_k(s)/n(s)
    *
    * with S the ALL-CAUSE Kaplan-Meier — the probability of having
    * exited BY CAUSE k by time t; Σ_k CIF_k = 1 − S exactly.
    * `cause` is 0 for censored, > 0 for the competing causes. Returns
    * one row per (t, cause) where cause k had events:
    * `(t, cause, n_risk, n_event, cif)`.
    *
    * Determinism: [[kaplanMeier]]'s discipline end-to-end — risk sets
    * exact longs, the all-cause log prefix nano-quantized with the
    * d = n zero flag, S(s−) one exp on an identical double, each
    * increment's d_k/n one double division of exact integers, the
    * product nano-quantized before the exact per-cause prefix sum.
    *
    * Scale shape: one duration-keyed aggregation + one (duration,
    * cause)-keyed aggregation reduce subjects away; every window runs
    * over the duration-level table (bounded by the time domain — the
    * [[kaplanMeier]] bin-table doctrine), the cause prefix over the
    * (duration × causes)-bounded join.
    */
  def aalenJohansen(df: DataFrame, duration: Column, cause: Column): DataFrame = {
    val base = df
      .select(duration.cast("long").as("t"), cause.cast("long").as("__c"))
      .filter(col("t").isNotNull && col("__c").isNotNull)
    val byT = base.groupBy(col("t"))
      .agg(sum(when(col("__c") > 0L, 1L).otherwise(0L)).as("__dtot"),
        count(lit(1)).as("__leave"))
    val perCause = base.filter(col("__c") > 0L)
      .groupBy(col("t"), col("__c").as("cause"))
      .agg(count(lit(1)).as("n_event"))
    val W = Window.orderBy(col("t"))
    val before = W.rowsBetween(Window.unboundedPreceding, -1)
    val total = byT.agg(sum(col("__leave")).as("__N"))
    val lnArg = (col("n_risk") - col("__dtot")).cast("double") /
      col("n_risk").cast("double")
    val lnTerm = when(col("__dtot") > 0 && col("__dtot") < col("n_risk"),
      round(log(lnArg) * lit(1e9), 0).cast("long")).otherwise(lit(0L))
    val spine = byT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__N") - coalesce(sum(col("__leave")).over(before), lit(0L)))
      .withColumn("__clnb", coalesce(sum(lnTerm).over(before), lit(0L)))
      .withColumn("__zerob", coalesce(max(
        when(col("__dtot") === col("n_risk") && col("__dtot") > 0, 1L)
          .otherwise(0L)).over(before), lit(0L)))
    val sPrev = when(col("__zerob") === 1L, lit(0.0))
      .otherwise(exp(col("__clnb").cast("double") / lit(1e9)))
    val inc = spine.join(perCause, Seq("t"))
      .withColumn("__term", round(sPrev *
        (col("n_event").cast("double") / col("n_risk").cast("double"))
        * lit(1e9), 0).cast("long"))
    val wc = Window.partitionBy(col("cause")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inc.select(col("t"), col("cause"), col("n_risk"), col("n_event"),
        round(sum(col("__term")).over(wc).cast("double") / lit(1e9), 6)
          .as("cif"))
      .orderBy(col("t"), col("cause"))
  }

  /** Two-group log-rank test — "do these survival curves differ?"
    * ([[kaplanMeier]] draws them; this tests them): at each distinct
    * event time t, group a's observed deaths vs the hypergeometric
    * expectation under the pooled risk set,
    *
    *   O−E = Σ_t (d_at − d_t·n_at/n_t)
    *   V   = Σ_t d_t·(n_at/n_t)·(n_bt/n_t)·(n_t−d_t)/(n_t−1)
    *   z = (O−E)/√V,  chi2 = z²  (1 dof)
    *
    * Returns ONE row `(n_a, n_b, d_a, d_b, e_a, z, chi2)`, 6 dp; z/chi2
    * null when V is 0 (no comparable event time).
    *
    * Determinism: per-group risk sets are exact longs from the same
    * suffix-cumulative windows as [[kaplanMeier]]; each time's E and V
    * terms are fixed IEEE trees over those integers, nano-quantized
    * BEFORE the cross-time sums (the chi2 discipline).
    *
    * Scale shape: one duration-keyed reduction carrying BOTH groups'
    * counts (union-tagged, one pass), whole-frame windows bounded by
    * distinct durations, one grand rollup.
    */
  def logRank(df: DataFrame, duration: Column, event: Column,
              inA: Column, inB: Column): DataFrame = {
    val byT = df
      .select(duration.cast("long").as("t"), event.cast("long").as("__e"),
        when(inA, lit("a")).when(inB, lit("b")).as("__g"))
      .filter(col("__g").isNotNull && col("t").isNotNull)
      .groupBy(col("t"))
      .agg(
        sum(when(col("__g") === "a", col("__e")).otherwise(0L)).as("__da"),
        sum(when(col("__g") === "a", 1L).otherwise(0L)).as("__la"),
        sum(when(col("__g") === "b", col("__e")).otherwise(0L)).as("__db"),
        sum(when(col("__g") === "b", 1L).otherwise(0L)).as("__lb"))
    val W = Window.orderBy(col("t"))
    val before = W.rowsBetween(Window.unboundedPreceding, -1)
    val totals = byT.agg(sum(col("__la")).as("__Na"), sum(col("__lb")).as("__Nb"))
    val risk = byT.crossJoin(broadcast(totals))
      .withColumn("__na", col("__Na") - coalesce(sum(col("__la")).over(before), lit(0L)))
      .withColumn("__nb", col("__Nb") - coalesce(sum(col("__lb")).over(before), lit(0L)))
    val d = (col("__da") + col("__db")).cast("double")
    val n = (col("__na") + col("__nb")).cast("double")
    val naD = col("__na").cast("double"); val nbD = col("__nb").cast("double")
    // E and V as fixed trees with early divisions (magnitudes stay small)
    val eTerm = when(col("__da") + col("__db") > 0L,
      round(d * naD / n * lit(1e9), 0).cast("long")).otherwise(0L)
    val vTerm = when(col("__da") + col("__db") > 0L && col("__na") + col("__nb") > 1L,
      round(d * (naD / n) * (nbD / n) * ((n - d) / (n - lit(1.0))) * lit(1e9), 0)
        .cast("long")).otherwise(0L)
    val agg = risk.agg(
      max(col("__Na")).as("__sna"), max(col("__Nb")).as("__snb"),
      sum(col("__da")).as("d_a"), sum(col("__db")).as("d_b"),
      sum(eTerm).as("__se"), sum(vTerm).as("__sv"))
    val diff = col("d_a").cast("double") - col("__se").cast("double") / lit(1e9)
    val v = col("__sv").cast("double") / lit(1e9)
    agg.select(
      col("__sna").as("n_a"), col("__snb").as("n_b"),
      col("d_a"), col("d_b"),
      round(col("__se").cast("double") / lit(1e9), 6).as("e_a"),
      when(v > 0.0, round(diff / sqrt(v), 6)).as("z"),
      when(v > 0.0, round(diff * diff / v, 6)).as("chi2"))
  }

  /** Restricted mean survival time — the area under the [[kaplanMeier]]
    * curve up to horizon τ: "average survival time over the first τ
    * units", the standard single-number summary when median survival is
    * undefined (curve never crosses 0.5) or the tail is censoring-noisy:
    *
    *   RMST(τ) = ∫₀^τ S(t) dt
    *           = min(t₁, τ)·1  +  Σ_{tᵢ < τ} S(tᵢ)·(min(tᵢ₊₁, τ) − tᵢ)
    *
    * (S is a right-continuous step function: 1 before the first distinct
    * duration, S(tᵢ) on [tᵢ, tᵢ₊₁)).
    *
    * Determinism: S(tᵢ) is [[kaplanMeier]]'s 6-dp value, re-scaled to an
    * exact integer micro-unit; each rectangle is an integer
    * micro-area (segment lengths are longs), so the area accumulates as
    * an exact integer sum with ONE final division.
    *
    * Scale shape: [[kaplanMeier]]'s duration-keyed reduction plus one
    * more bounded whole-frame window (the lead over distinct durations)
    * and a 1-row rollup.
    *
    * @return 1 row (tau, n_subjects, rmst)
    */
  def rmst(df: DataFrame, duration: Column, event: Column, tau: Long): DataFrame = {
    require(tau > 0, s"horizon must be positive: $tau")
    val km = kaplanMeier(df, duration, event)
    val W = Window.orderBy(col("t"))
    val seg = when(col("t") < lit(tau),
      least(coalesce(lead(col("t"), 1).over(W), lit(tau)), lit(tau)) - col("t"))
      .otherwise(lit(0L))
    val s6 = round(col("survival") * lit(1e6), 0).cast("long")
    km.select(col("t"), col("n_risk"), s6.as("__s6"), seg.as("__seg"))
      .agg(max(col("n_risk")).as("n_subjects"),
        min(col("t")).as("__t0"),
        sum(col("__s6") * col("__seg")).as("__body"))
      .select(lit(tau).as("tau"), col("n_subjects"),
        round((least(col("__t0"), lit(tau)) * lit(1000000L) + col("__body"))
          .cast("double") / lit(1e6), 6).as("rmst"))
  }

  /** Weibull fit by median-rank regression — the parametric summary
    * next to [[kaplanMeier]]'s curve: over UNCENSORED durations t > 0,
    * regress y = ln(−ln(1 − F)) on x = ln t with Bernard's median
    * ranks F_i = (i − 0.3)/(n + 0.4); the slope is the shape k (< 1
    * infant mortality, ≈ 1 memoryless, > 1 wear-out), the scale is
    * λ = exp(−α/k). Returns one row
    * `(n, shape, scale, r2)`; null fit when n < 3 or the durations
    * have no spread (a single distinct t cannot pin a slope).
    *
    * Determinism: ranks come from the distinct-duration table — each
    * distinct t with prior cumulative count F and multiplicity c emits
    * ranks F+1 … F+c by a NARROW sequence explode, so no data-sized
    * window exists and tie order cannot matter (tied t share x). Both
    * regression coordinates nano-quantize per rank before the exact
    * moment sums; the OLS close is one fixed IEEE tree.
    *
    * Scale shape: one duration-keyed map-combined aggregation, a
    * cumulative window bounded by DISTINCT durations, the rank
    * explode (narrow), one grand aggregation.
    */
  def weibullFit(df: DataFrame, duration: Column, event: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.select(duration.cast("long").as("__t"),
        event.cast("long").as("__e"))
      .filter(col("__t").isNotNull && col("__t") > 0L && col("__e") === 1L)
    val byVal = base.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__t"))
    val withCum = byVal.withColumn("__f",
      coalesce(sum(col("__c")).over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    // ranks F+1 … F+c per distinct duration — narrow, tie-order-free
    val ranks = withCum.select(col("__t"), col("__n"),
        explode(sequence(col("__f") + 1L, col("__f") + col("__c"))).as("__i"))
    val nD = col("__n").cast("double")
    val fMed = (col("__i").cast("double") - lit(0.3)) / (nD + lit(0.4))
    val x = round(log(col("__t").cast("double")) * lit(1e9), 0).cast("long")
    val y = round(log(-log(lit(1.0) - fMed)) * lit(1e9), 0).cast("long")
    val pts = ranks.select(col("__n"), x.as("__x"), y.as("__y"))
    val agg = pts.agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast(dec)).as("__sx"),
      sum(col("__y").cast(dec)).as("__sy"),
      sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"),
      sum(col("__y").cast(dec) * col("__y").cast(dec)).as("__syy"),
      sum(col("__x").cast(dec) * col("__y").cast(dec)).as("__sxy"))
    val m = col("n").cast("double")
    def f(c: String): Column = col(c).cast("double")
    val sxx = m * f("__sxx") - f("__sx") * f("__sx")
    val syy = m * f("__syy") - f("__sy") * f("__sy")
    val sxy = m * f("__sxy") - f("__sx") * f("__sy")
    val shape = sxy / sxx
    val alpha = (f("__sy") - shape * f("__sx")) / m / lit(1e9)
    val scale = exp(-alpha / shape)
    val r2 = sxy / sxx * sxy / syy
    val ok = col("n") >= 3 && sxx > 0.0
    agg.select(col("n"),
      when(ok, round(shape, 6)).as("shape"),
      when(ok, round(scale, 6)).as("scale"),
      when(ok && syy > 0.0, round(r2, 6)).as("r2"))
  }

  /** Cox proportional-hazards regression, single covariate, trained in
    * the engine — Newton–Raphson on the Breslow partial likelihood:
    * with risk-set sums S_k(t) = Σ_{j: t_j ≥ t} x_jᵏ·exp(βx_j),
    *
    *   U(β) = Σ_{event times t} [ Σ_{events at t} x  −  d_t·S₁/S₀ ]
    *   I(β) = Σ_{event times t}   d_t·( S₂/S₀ − (S₁/S₀)² )
    *   β ← β + U/I
    *
    * — the regression [[logRank]] is the score test OF (β=0 with a
    * binary x reproduces log-rank's direction), giving a hazard RATIO
    * per covariate unit with censoring handled exactly. Returns one row
    * `(n, n_events, beta, hr, se, z, u_residual)`: hr = exp(β),
    * se = 1/√I at the final β, and `u_residual` is the final score —
    * the EMITTED convergence evidence (≈0 when Newton has converged,
    * the GK/TPD iters_run contract in score units). Null coefficients
    * when I ≤ 0 (no events, or constant x).
    *
    * Determinism: β carries between iterations as a nano integer;
    * per-row exp(βx) terms nano-quantize before the exact per-duration
    * sums; risk-set sums are exact-decimal cumulative windows over the
    * DISTINCT-DURATION table; each event-time's U/I term is one fixed
    * IEEE tree, nano-quantized before the exact rollup; the driver
    * update replays CTE-for-CTE (the [[graft.ops.Regression
    * .logisticNewton]] contract).
    *
    * Scale shape: at most `iterations` iterations, stopping at the exact
    * fixed point (a round that leaves the nano β unchanged), each one
    * duration-keyed map-combined aggregation + cumulative windows over
    * the duration table (rows = distinct durations — the [[kaplanMeier]]
    * bound, never subjects) + a 2-value reduce. Driver state: one long.
    */
  def coxNewton(df: DataFrame, duration: Column, event: Column, x: Column,
                iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def nano(c: Column): Column = round(c * lit(1e9), 0).cast(dec)
    val base = df
      .select(duration.cast("long").as("__t"), event.cast("long").as("__e"),
        x.cast("double").as("__x"))
      .filter(col("__t").isNotNull && col("__e").isNotNull && col("__x").isNotNull)
    // one (U, I) evaluation at a fixed beta: duration-keyed reduction,
    // cumulative risk-set windows, nano-quantized per-event-time terms
    def score(beta: Double): (Double, Double) = {
      val r = exp(lit(beta) * col("__x"))
      val byT = base.groupBy(col("__t")).agg(
        sum(col("__e")).as("__d"),
        sum(when(col("__e") === 1L, nano(col("__x"))).otherwise(lit(0).cast(dec)))
          .as("__sx"),
        sum(nano(r)).as("__r0"),
        sum(nano(col("__x") * r)).as("__r1"),
        sum(nano(col("__x") * col("__x") * r)).as("__r2"))
      val wDesc = Window.orderBy(col("__t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byT
        .withColumn("__s0", sum(col("__r0")).over(wDesc))
        .withColumn("__s1", sum(col("__r1")).over(wDesc))
        .withColumn("__s2", sum(col("__r2")).over(wDesc))
      val s0 = col("__s0").cast("double")
      val s1 = col("__s1").cast("double")
      val s2 = col("__s2").cast("double")
      val dD = col("__d").cast("double")
      val uT = col("__sx").cast("double") / lit(1e9) - dD * (s1 / s0)
      val iT = dD * (s2 / s0 - (s1 / s0) * (s1 / s0))
      val agg = Observe.scalars(cum.filter(col("__d") > 0L && col("__s0") > 0),
        sum(nano(uT)).as("__u"), sum(nano(iT)).as("__i"))
      def dbl(i: Int): Double =
        if (agg.isNullAt(i)) 0.0 else agg.getDecimal(i).doubleValue() / 1e9
      (dbl(0), dbl(1))
    }
    // β in nanos and whether a round met I ≤ 0; stops at the exact fixed
    // point, where every later round would repeat the last
    val ((bn, degenerate), _) = Observe.iterate("coxNewton", (0L, false), iterations) {
      case (bn, _) =>
        val (u, i) = score(bn.toDouble / 1e9)
        if (!(i > 0.0)) (bn, true)
        else (bn + BigDecimal(u / i * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong, false)
    }((prev, next) => next._2 || prev == next)
    val beta = bn.toDouble / 1e9
    val (uF, iF) = if (degenerate) (0.0, 0.0) else score(beta)
    val fin = base.agg(count(lit(1)).as("n"), sum(col("__e")).as("n_events"))
    val ok = lit(!degenerate && iF > 0.0)
    fin.select(col("n"), col("n_events"),
      when(ok, round(lit(beta), 6)).as("beta"),
      when(ok, round(exp(lit(beta)), 6)).as("hr"),
      when(ok, round(lit(if (iF > 0.0) 1.0 / math.sqrt(iF) else 0.0), 6)).as("se"),
      when(ok, round(lit(if (iF > 0.0) beta * math.sqrt(iF) else 0.0), 6)).as("z"),
      when(ok, round(lit(uF), 6)).as("u_residual"))
  }

  /** Harrell's concordance index — "does the risk score actually order
    * the events?": over all STRICT-TIME comparable pairs (tᵢ < tⱼ with
    * subject i an observed event — the textbook Harrell convention;
    * equal-time pairs are not comparable and do not count),
    *
    *   C = (#concordant + ½·#score-tied) / #comparable,
    *   concordant ⇔ scoreᵢ > scoreⱼ  (higher risk → earlier event)
    *
    * — THE discrimination metric for [[coxNewton]]'s fitted scores and
    * any churn/survival ranking. One row: `(n, n_events,
    * comparable_pairs, concordant_pairs, tied_pairs, c_index_nano)` —
    * all BIGINT (C in exact round-half-up nano units; no float
    * surface).
    *
    * Exactness WITHOUT a pair join: subjects reduce to the
    * (duration, score) cell grid; #\{t' > t, s' < s\} factors into two
    * cumulative windows over the DENSIFIED |T|×|S| grid (suffix over t
    * within each score, then prefix over s within each t), so every
    * pair count is an exact integer and the quadratic pair space is
    * never materialized. `score` must be integer-valued (quantize
    * upstream — it is used as an exact grid key).
    *
    * Scale shape: one (t, s) map-combined aggregation; the grid is
    * |durations|×|scores| (require-guarded by `maxGrid`, counted
    * distributed BEFORE the cross spine is built — then the smaller
    * axis, ≤ √maxGrid rows, is collected as a literal frame so the
    * spine's broadcast side is structurally a LocalTableScan), two
    * bounded window passes, one 1-row rollup. Raw rows shuffle once.
    */
  def concordanceIndex(df: DataFrame, duration: Column, event: Column,
                       score: Column, maxGrid: Long = 1000000L): DataFrame = {
    require(maxGrid >= 1L, s"maxGrid must be positive: $maxGrid")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df.select(duration.cast("long").as("__t"),
        event.cast("long").as("__e"), score.cast("long").as("__s"))
      .filter(col("__t").isNotNull && col("__e").isNotNull && col("__s").isNotNull)
      .groupBy(col("__t"), col("__s"))
      .agg(count(lit(1)).as("__n"), sum(col("__e")).as("__d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grid0 = Observe.releasing(cells) {
      val tTbl = cells.select(col("__t")).distinct()
      val sTbl = cells.select(col("__s")).distinct()
      val (nT, nS) = (Observe.rowCount(tTbl), Observe.rowCount(sTbl))
      require(nT * nS <= maxGrid,
        s"concordanceIndex densifies a ${nT}×${nS} duration×score grid " +
          s"(cap $maxGrid cells). Quantize the score into coarser buckets " +
          s"— C on bucketed scores is the standard large-n estimator.")
      // Cross-spine boundedness made STRUCTURAL (r13): the smaller axis —
      // min(nT, nS) ≤ √maxGrid ≤ 1000 rows by the cap just enforced — is
      // collected and re-emitted as a LITERAL frame, so the nested-loop
      // join's broadcast side is a LocalTableScan in every physical plan,
      // independent of cache lineage (the registry plan guard recognizes
      // that shape without a per-query whitelist entry). The collect is
      // bounded by the same contract that already counted both axes.
      val spark0 = df.sparkSession
      import scala.jdk.CollectionConverters._
      def literalAxis(tbl: DataFrame, name: String): DataFrame =
        spark0.createDataFrame(
          tbl.collect().map(r => org.apache.spark.sql.Row(r.getLong(0))).toList.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(name,
              org.apache.spark.sql.types.LongType, nullable = false))))
      if (nS <= nT) tTbl.crossJoin(literalAxis(sTbl, "__s"))
      else literalAxis(tTbl, "__t").crossJoin(sTbl)
    }
    val grid = grid0
      .join(cells, Seq("__t", "__s"), "left")
      .select(col("__t"), col("__s"),
        coalesce(col("__n"), lit(0L)).as("__n"),
        coalesce(col("__d"), lit(0L)).as("__d"))
    val wAfterT = Window.partitionBy(col("__s")).orderBy(col("__t"))
      .rowsBetween(1, Long.MaxValue)
    val withA = grid.withColumn("__a",
      coalesce(sum(col("__n")).over(wAfterT), lit(0L)))
    val wPrefS = Window.partitionBy(col("__t")).orderBy(col("__s"))
      .rowsBetween(Long.MinValue, -1)
    val wAllS = Window.partitionBy(col("__t"))
    val withB = withA
      .withColumn("__b", coalesce(sum(col("__a")).over(wPrefS), lit(0L)))
      .withColumn("__ct", sum(col("__a")).over(wAllS))
    val agg = withB.agg(
      sum(col("__n")).as("n"),
      sum(col("__d")).as("n_events"),
      sum(col("__d").cast(dec) * col("__ct").cast(dec)).as("__cmp"),
      sum(col("__d").cast(dec) * col("__b").cast(dec)).as("__cc"),
      sum(col("__d").cast(dec) * col("__a").cast(dec)).as("__tt"))
    agg.select(col("n"), col("n_events"),
      col("__cmp").cast("long").as("comparable_pairs"),
      col("__cc").cast("long").as("concordant_pairs"),
      col("__tt").cast("long").as("tied_pairs"),
      when(col("__cmp") > 0,
        expr("((cast(__cc as decimal(38,0)) * 2 + __tt) * 2000000000 + __cmp * 2) div " +
          "(cast(__cmp as decimal(38,0)) * 4)").cast("long"))
        .as("c_index_nano"))
  }
}
