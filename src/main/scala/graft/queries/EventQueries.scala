package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.multimodal.Multimodal
import graft.ops.{AsOf, Columns, Concat, Grouped, Merge, Pack, Profile, RangeJoin, Reshape, Sampling, Skew, Timeseries}
import graft.streaming.Streaming
import graft.text.{Boilerplate, Cluster, Dedup, Dsir, LangModel, Pq, Rank, Similarity, TextStats}

import graft.queries.Qh.{t, dsum}

/** Event-time family: windows, sessionization, funnels, retention, rolling metrics over the events table.
  *
  * Query defs + their DuckDB oracle SQL, split out of the former
  * monolithic SparkEntry (registry semantics unchanged — the maps merge
  * in [[graft.SparkEntry]]).
  */
object EventQueries {

  /** W3 forward-fill per series (nulls injected on 'click' events). */
  private def qFfill(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("value_filled",
      when(col("event_type") === "click", lit(null).cast("double")).otherwise(col("value")))
    Timeseries.ffill(e, Seq("user_id"), Seq("ts", "event_id"), Seq("value_filled"))
      .select(col("event_id"), col("user_id"), col("value_filled"))
      .orderBy(col("event_id"))
  }

  /** W2+W3 — forward-fill bounded by the reference's shifted (Feb→Jan+1)
    * year: fill must not cross the February boundary.
    */
  private def qShiftedFfill(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("value_filled",
      when(col("event_type") === "click", lit(null).cast("double")).otherwise(col("value")))
    Timeseries.shiftedWithinYearFfill(e, Seq("user_id"), "ts", Seq("value_filled"),
        tieBreakCols = Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("value_filled"))
      .orderBy(col("event_id"))
  }

  /** Event-time tumbling window aggregation (batch form of the streaming
    * operator; window start emitted as string for oracle parity).
    */
  private def qTumbling(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Sessionization: 30-minute-gap sessions via lag + running sum
    * (microsecond-exact gap comparison on both engines).
    */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
    val newSession = when(gapUs.isNull || gapUs > lit(1800000000L), 1).otherwise(0)
    t(s, dir, "events")
      .withColumn("session_seq",
        sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        dsum(col("value")).as("sum_value"),
      )
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** Sliding event-time windows (1h window, 30m slide — every event lands
    * in two windows).
    */
  private def qSliding(s: SparkSession, dir: String): DataFrame =
    Streaming.slidingAgg(t(s, dir, "events"), "ts", "1 hour", "30 minutes", Nil,
        Seq(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("sum_value"))
      .orderBy(col("window_start"))

  /** Native gap-based session windows (session_window), the declarative
    * form of [[qSessionize]].
    */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    Streaming.sessionAgg(t(s, dir, "events"), "ts", "30 minutes", Seq("user_id"),
        Seq(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value")))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Rolling 3-event trailing sum per user (decimal-exact, so the
    * sliding-window reassociation both engines do cannot change values).
    */
  private def qRolling(s: SparkSession, dir: String): DataFrame =
    Timeseries.withRollingSum(t(s, dir, "events"), Seq("user_id"),
        Seq("ts", "event_id"), col("value").cast(DecimalType(18, 2)), 3, "rsum")
      .select(col("event_id"), col("user_id"), col("rsum").cast("double").as("rsum"))
      .orderBy(col("event_id"))

  /** Funnel analysis ([[graft.ops.Funnel]]): users progressing through
    * view → click → purchase in event-time order (event_id tiebreak),
    * counted per step reached. The oracle deliberately uses a DIFFERENT
    * formulation (iterated first-match-after via row-comparison windows)
    * — agreement cross-checks the greedy-fold semantics, not just the
    * arithmetic.
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.funnelCounts(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", Seq("view", "click", "purchase"))
      .orderBy(col("step"))

  /** Regular-grid resample with gap fill
    * ([[graft.ops.Timeseries.resampleGapFill]]): per-user hourly buckets,
    * exact decimal sums, empty buckets flagged and forward-filled — all
    * three stages co-partitioned on the series key.
    */
  private def qResample(s: SparkSession, dir: String): DataFrame =
    Timeseries.resampleGapFill(
        t(s, dir, "events").filter(col("user_id") < 3),
        Seq("user_id"), "ts", stepSeconds = 3600,
        aggs = Seq(dsum(col("value")).as("sum_value")))
      .select(col("user_id"),
        date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("sum_value"), col("is_gap"))
      .orderBy(col("user_id"), col("bucket"))

  /** Weekly cohort retention ([[graft.ops.Funnel.retentionMatrix]]):
    * users cohorted by first-event week, distinct-active counted per
    * (cohort, week offset) — two co-partitioned shuffles on user_id.
    */
  private def qRetention(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.retentionMatrix(t(s, dir, "events"), "user_id", "ts",
        periodSeconds = 7L * 24 * 3600)
      .select(date_format(col("cohort_ts"), "yyyy-MM-dd").as("cohort_week"),
        col("period"), col("n_active"))
      .orderBy(col("cohort_week"), col("period"))

  /** Event-type co-occurrence lift ([[graft.ops.Funnel.cooccurrenceLift]]):
    * unordered behavior pairs per user with lift over independence —
    * entity-co-partitioned self-join, broadcast marginals, one exact
    * long division (bit-deterministic, no rounding needed).
    */
  private def qCooccur(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.cooccurrenceLift(t(s, dir, "events"), "user_id", "event_type")
      .orderBy(col("item_a"), col("item_b"))

  /** Gaps-and-islands activity streaks
    * ([[graft.ops.Funnel.activityStreaks]]): longest consecutive-day run
    * and active-day count per user — one distinct, one window, one agg,
    * all on the entity key.
    */
  private def qStreaks(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.activityStreaks(t(s, dir, "events"), "user_id", "ts")
      .orderBy(col("user_id"))

  /** Markov transition matrix over user journeys
    * ([[graft.ops.Funnel.transitionMatrix]]): consecutive event-type
    * pairs per user with row-normalized probabilities — one entity
    * shuffle, then a types²-sized aggregation.
    */
  private def qTransitions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.transitionMatrix(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")
      .orderBy(col("from_type"), col("to_type"))

  /** Frequent 3-step journeys ([[graft.ops.Funnel.frequentSequences]]):
    * every consecutive event-type trigram per user timeline with
    * occurrence and distinct-user support — the sequential patterns
    * q_transitions' bigram matrix compresses away. Same (ts, event_id)
    * deterministic ordering; pattern table bounded by |types|³.
    */
  private def qSeq3(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.frequentSequences(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", len = 3, minCount = 5L)

  /** Rolling 7-day distinct active users
    * ([[graft.ops.Funnel.rollingActiveEntities]]): the trailing-window
    * WAU curve via contribution explode — O(user-days × 7) moved, never
    * a per-day rescan or a day×events range join.
    */
  private def qRollingActive(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.rollingActiveEntities(t(s, dir, "events"),
        "user_id", "ts", windowPeriods = 7)
      .select(date_format(col("period_ts"), "yyyy-MM-dd").as("day"), col("n_active"))
      .orderBy(col("day"))

  /** Signup→purchase conversion lag ([[graft.ops.Funnel.timeToConvert]]):
    * first purchase at/after each user's first signup, lag in exact
    * microseconds — window + aggregation on one shared entity exchange.
    */
  private def qConversionLag(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.timeToConvert(t(s, dir, "events"),
        "user_id", "ts", "event_type", "signup", "purchase")
      .select(col("user_id"),
        date_format(col("from_ts"), "yyyy-MM-dd HH:mm:ss").as("from_ts"),
        date_format(col("to_ts"), "yyyy-MM-dd HH:mm:ss").as("to_ts"),
        col("lag_us"))
      .orderBy(col("user_id"))

  /** Exact α=½ EWMA over per-user daily spend
    * ([[graft.ops.Timeseries.ewmaHalf]]): cents accumulate in a long
    * prefix sum, one IEEE division at the end — bit-deterministic
    * recency weighting, no float recurrence.
    */
  private def qEwma(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("__day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.ewmaHalf(daily, Seq("user_id"), Seq("__day"), "cents")
      .select(col("user_id"),
        date_format(timestamp_micros(col("__day") * 86400000000L), "yyyy-MM-dd")
          .as("day"),
        col("cents"), col("ewma"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Validation for the sketch-path rolling actives
    * ([[graft.ops.Funnel.rollingActiveEntitiesApprox]]): every period's
    * HLL estimate must land within the 4σ envelope (6.5% at lgK=12) of
    * the exact trailing distinct count — at these cardinalities the
    * sketch is still sparse-exact, so the real gap is 0. Violations = 0,
    * oracle SELECT 0.
    */
  private def qRollingHll(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val exact = graft.ops.Funnel.rollingActiveEntities(e, "user_id", "ts", 7)
    val approx = graft.ops.Funnel.rollingActiveEntitiesApprox(e, "user_id", "ts", 7)
    exact.join(approx, Seq("period_ts"), "full_outer")
      .agg(coalesce(sum(when(
        col("n_active").isNull || col("n_active_est").isNull ||
          abs(col("n_active_est") - col("n_active")) >
            lit(0.065) * col("n_active"), 1L)
        .otherwise(0L)), lit(0L)).as("n_violations"))
  }

  /** Day-of-week seasonal factors per event type
    * ([[graft.ops.Timeseries.seasonalFactors]]): the bucket is computed
    * CALENDAR-FREE as `(epoch_day + 4) mod 7` (1970-01-01 was a
    * Thursday, so +4 makes 0 = Sunday) — identical integer arithmetic
    * in any engine, no timezone/locale semantics to align.
    */
  private def qSeasonal(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val dow = pmod(floor(unix_micros(col("ts")) / lit(86400000000L)) + lit(4L), lit(7L))
    Timeseries.seasonalFactors(e, Seq("event_type"), dow, col("value"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Kaplan-Meier retention curve ([[graft.ops.Survival.kaplanMeier]]):
    * per-user active-span durations in days; a user whose last activity
    * ends before Jan 29 is an observed churn, later = censored at panel
    * end. The curve steps only at churn times; censoring thins the risk
    * set — the unbiased retention readout a plain average can't give.
    */
  private def qKm(s: SparkSession, dir: String): DataFrame = {
    val subj = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        floor((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          / lit(86400000000L)).as("dur_days"),
        when(max(unix_micros(col("ts"))) < lit(1706486400000000L), 1L)
          .otherwise(0L).as("churned"))
    graft.ops.Survival.kaplanMeier(subj, col("dur_days"), col("churned"))
      .orderBy(col("t"))
  }

  /** Aalen-Johansen cumulative incidence ([[graft.ops.Survival
    * .aalenJohansen]]): from each user's first event, which terminal
    * action arrives FIRST — a purchase (cause 1) or a click (cause 2)
    * — and how fast? The two causes COMPETE, so 1 − KM per action
    * would overstate both; users who never do either are censored at
    * their activity span. All-cause KM prefix + per-cause incidence
    * increments, every window over the bounded duration table.
    */
  private def qAalenJohansen(s: SparkSession, dir: String): DataFrame = {
    val subj = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min(unix_micros(col("ts"))).as("__t0"),
        max(unix_micros(col("ts"))).as("__t1"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("__tp"),
        min(when(col("event_type") === "click", unix_micros(col("ts"))))
          .as("__tc"))
    val purchaseFirst = col("__tp").isNotNull &&
      (col("__tc").isNull || col("__tp") <= col("__tc"))
    val clickFirst = col("__tc").isNotNull &&
      (col("__tp").isNull || col("__tc") < col("__tp"))
    val cause = when(purchaseFirst, 1L).when(clickFirst, 2L).otherwise(0L)
    val durEnd = when(purchaseFirst, col("__tp"))
      .when(clickFirst, col("__tc")).otherwise(col("__t1"))
    graft.ops.Survival.aalenJohansen(subj,
      floor((durEnd - col("__t0")) / lit(86400000000L)), cause)
  }

  /** Nelson-Aalen cumulative hazard ([[graft.ops.Survival.nelsonAalen]]):
    * q_km's additive companion on the same churn durations — cumulative
    * risk with its SE, nano-quantized d/n steps, no log detour.
    */
  private def qHazard(s: SparkSession, dir: String): DataFrame = {
    val subj = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        floor((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          / lit(86400000000L)).as("dur_days"),
        when(max(unix_micros(col("ts"))) < lit(1706486400000000L), 1L)
          .otherwise(0L).as("churned"))
    graft.ops.Survival.nelsonAalen(subj, col("dur_days"), col("churned"))
      .orderBy(col("t"))
  }

  /** Per-type hourly revenue ACF at lags 1..6
    * ([[graft.ops.Timeseries.autocorrelation]]): the
    * persistence/seasonality screen before q_seasonal commits to a
    * cycle length. Hourly cent sums form the series; the n²-cleared
    * integer formulation makes all 6 lags hash-exact from one
    * series-keyed exchange.
    */
  private def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("__h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.autocorrelation(hourly, Seq("event_type"), col("__h"),
        col("cents"), maxLag = 6)
      .orderBy(col("event_type"), col("lag"))
  }

  /** AR(2) Yule-Walker fit ([[graft.ops.Timeseries.ar2YuleWalker]]) on
    * q_autocorr's hourly revenue series: the closed-form φ₁/φ₂ the
    * first two autocorrelations imply — does hour-over-hour momentum
    * need a second-order term? Exact moment algebra, zero extra passes
    * beyond the shared series sort.
    */
  private def qArFit(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("__h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.ar2YuleWalker(hourly, Seq("event_type"), col("__h"), col("cents"))
      .orderBy(col("event_type"))
  }

  /** Top-3 influence days per event type
    * ([[graft.ops.Regression.cooksTopK]]): which days bent each
    * revenue trend line — Cook's distance from closed-form leverage
    * and residuals over the broadcast fit, no refitting, no shuffle of
    * daily rows.
    */
  private def qInfluence(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    graft.ops.Regression.cooksTopK(daily, Seq("event_type"), col("day"),
        col("cents").cast("double"), k = 3)
      .orderBy(col("event_type"), col("x"))
  }

  /** Hurst exponent ([[graft.ops.Timeseries.hurstRS]]) of the hourly
    * revenue stream: rescaled-range analysis over 8/16/32/64-hour
    * blocks — is load persistent (H > 0.5, provision for runs) or
    * mean-reverting? Every block range is an exact integer, every m
    * cancels, and the 4-point log-log fit replays off nano-quantized
    * pairs.
    */
  private def qHurst(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.hurstRS(hourly, col("h"), col("cents").cast("double"))
  }

  /** Engle ARCH LM test ([[graft.ops.Timeseries.archLm]]) on daily
    * revenue per event type: volatility clustering the level ACF
    * misses — detrend, square residuals in exact integer units, regress
    * on the lag, LM = n·R².
    */
  private def qArch(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.archLm(daily, Seq("event_type"), col("day"),
        col("cents").cast("double"))
      .orderBy(col("event_type"))
  }

  /** Chow structural-break test ([[graft.ops.Timeseries.chowTest]]):
    * did each event type's daily-revenue trend change at day 19738 (the
    * stream's midpoint)? Closed-form per-segment OLS off one
    * conditional-moment pass — the known-date companion to
    * q_changepoint's searched break.
    */
  private def qChow(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.chowTest(daily, Seq("event_type"), col("day"),
        col("cents").cast("double"), breakAt = 19738L)
      .orderBy(col("event_type"))
  }

  /** Stationary distribution of the user-behavior chain
    * ([[graft.ops.Funnel.stationaryDistribution]]): q_transitions'
    * long-run view — exact-integer power iteration on the driver-held
    * bounded state vector, early-exiting once max|Δπ| < 1000 units
    * (1 ppb) with `iters_run` emitted as convergence provenance. The
    * oracle unrolls the same rounds and CARRIES the converged vector
    * through the remaining CTEs ([[stationaryOracleSql]]), so the
    * early exit itself is hash-checked.
    */
  private def qStationary(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.stationaryDistribution(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type", iterations = 8,
        tolUnits = 1000L)
      .orderBy(col("state"))

  /** Unrolled q_stationary oracle with the convergence carry: round i
    * steps only while the previous two vectors still differ by ≥
    * `tolUnits` somewhere (exact integers — the flag evaluates
    * identically in both engines); once converged, each remaining CTE
    * carries the vector forward unchanged, and `iters_run` counts the
    * rounds that actually stepped — the GK/TPD replay discipline.
    */
  private def stationaryOracleSql(iters: Int, tolUnits: Long): String = {
    val head =
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |cnt AS MATERIALIZED (
        |  SELECT from_type, to_type, count(*) AS n FROM seq
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |st AS MATERIALIZED (
        |  SELECT DISTINCT state FROM (
        |    SELECT from_type AS state FROM cnt
        |    UNION ALL SELECT to_type FROM cnt)),
        |outs AS MATERIALIZED (SELECT from_type, SUM(n) AS out_n FROM cnt GROUP BY 1),
        |p0 AS MATERIALIZED (
        |  SELECT state, 1000000000000 // (SELECT COUNT(*) FROM st) AS pi FROM st)""".stripMargin
    def round(i: Int): String = {
      val prev = s"p${i - 1}"
      val stepExpr = "COALESCE(f.m, 0)\n      " +
        "+ COALESCE(CASE WHEN o.from_type IS NULL THEN q.pi ELSE 0 END, 0)"
      val piExpr =
        if (i == 1) s"$stepExpr AS pi"
        else s"CASE WHEN (SELECT cv FROM d$i) = 1 THEN q.pi\n" +
          s"      ELSE $stepExpr END AS pi"
      // every round CTE is MATERIALIZED: each p_i is referenced 3-4
      // times (step subquery, carry join, next round's convergence
      // diff) and DuckDB inlines plain CTEs, which would re-evaluate
      // the whole chain exponentially
      val dCte =
        if (i == 1) ""
        else s"""d$i AS MATERIALIZED (
                |  SELECT CASE WHEN MAX(ABS(a.pi - b.pi)) < $tolUnits THEN 1 ELSE 0 END AS cv
                |  FROM p${i - 1} a JOIN p${i - 2} b ON a.state = b.state),
                |""".stripMargin
      s"""${dCte}p$i AS MATERIALIZED (
         |  SELECT s.state,
         |    $piExpr
         |  FROM st s
         |  LEFT JOIN (
         |    SELECT c.to_type AS state, SUM((p.pi // o.out_n) * c.n) AS m
         |    FROM $prev p JOIN outs o ON p.state = o.from_type
         |    JOIN cnt c ON c.from_type = p.state
         |    GROUP BY 1) f ON f.state = s.state
         |  LEFT JOIN outs o ON o.from_type = s.state
         |  LEFT JOIN $prev q ON q.state = s.state)""".stripMargin
    }
    val rounds = (1 to iters).map(round).mkString(",\n")
    s"""$head,
       |$rounds
       |SELECT state, CAST(pi AS BIGINT) AS pi_units,
       |  round(CAST(pi AS DOUBLE) / 1000000000000.0, 6) AS pi,
       |  CAST(${sweepsRunSql(iters)} AS BIGINT) AS iters_run
       |FROM p$iters ORDER BY state""".stripMargin
  }

  /** The sweeps the unrolled π chain paid: `iters` less each round `i`
    * whose `d_i` CTE found the chain already converged (and so carried
    * the previous π forward).
    */
  private def sweepsRunSql(iters: Int): String =
    if (iters == 1) "1"
    else s"$iters" + (2 to iters).map(i => s" - (SELECT cv FROM d$i)").mkString

  /** q_entropy_rate oracle: the SAME unrolled π chain as
    * [[stationaryOracleSql]] (kept literally in sync — both build from
    * the identical head/round text), closed with the row-entropy
    * weighting H = Σ π_s·(ln n_s − Σn·ln n / n_s), every n·ln n and
    * per-state term nano-quantized exactly as the operator does.
    */
  private def entropyRateOracleSql(iters: Int, tolUnits: Long): String = {
    val base = stationaryOracleSql(iters, tolUnits)
    // strip the stationary final SELECT, keep the WITH chain
    val cut = base.lastIndexOf("SELECT state, CAST(pi AS BIGINT)")
    val ctes = base.substring(0, cut).trim.stripSuffix(",") + ","
    s"""$ctes
       |rowh AS (
       |  SELECT from_type, SUM(n) AS ns,
       |    SUM(CAST(round(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
       |      * 1000000000.0) AS HUGEINT)) AS nln
       |  FROM cnt GROUP BY 1),
       |terms AS (
       |  SELECT CAST(round((CAST(p.pi AS DOUBLE) / 1000000000000.0)
       |    * (ln(CAST(r.ns AS DOUBLE))
       |      - CAST(r.nln AS DOUBLE) / 1000000000.0 / CAST(r.ns AS DOUBLE))
       |    * 1000000000.0) AS HUGEINT) AS t
       |  FROM p$iters p JOIN rowh r ON p.state = r.from_type),
       |hh AS (SELECT SUM(t) AS tsum FROM terms),
       |nst AS (SELECT COUNT(*) AS k FROM st)
       |SELECT CAST(nst.k AS BIGINT) AS n_states,
       |  CASE WHEN nst.k > 0 THEN CAST(${sweepsRunSql(iters)} AS BIGINT) END AS iters_run,
       |  round(CAST(hh.tsum AS DOUBLE) / 1000000000.0, 6) AS entropy_rate,
       |  round(exp(CAST(hh.tsum AS DOUBLE) / 1000000000.0), 6) AS perplexity
       |FROM hh CROSS JOIN nst""".stripMargin
  }

  /** Entropy rate of the user-behavior chain ([[graft.ops.Funnel
    * .entropyRate]]): ONE number for how predictable the next event
    * type is, weighting each state's row entropy by q_stationary's
    * long-run occupancy — perplexity = e^H is the chain's effective
    * branching factor, the Markov-level sibling of q_cond_entropy's
    * bigram view. Same exact-integer π chain, same counting pass.
    */
  private def qEntropyRate(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.entropyRate(t(s, dir, "events"),
      "user_id", "ts", "event_id", "event_type", iterations = 8,
      tolUnits = 1000L)

  /** Lag-1 Granger causality ([[graft.ops.Timeseries.grangerLag1]]):
    * does the last hour's click revenue predict this hour's purchase
    * revenue beyond its own momentum? Closed-form 2-regressor F off
    * one exact-moment pass over q_ccf's hourly frame.
    */
  private def qGranger(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))).as("px"),
        sum(when(col("event_type") === "click",
          round(col("value") * 100).cast("long"))).as("cx"))
      .withColumn("k", lit("all"))
    Timeseries.grangerLag1(hourly, Seq("k"), col("h"),
        col("px").cast("double"), col("cx").cast("double"))
      .select(col("n"), col("b_y1"), col("b_x1"), col("f"))
  }

  /** Croston intermittent-demand forecast
    * ([[graft.ops.Timeseries.croston]]): per-user purchase demand is
    * mostly-zero daily series — EWMA of the raw series decays to zero
    * between buys; Croston smooths nonzero sizes and gaps separately
    * over the trailing 32 demands and forecasts their ratio, all in
    * exact dyadic arithmetic.
    */
  private def qCroston(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("__day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.croston(daily, Seq("user_id"), col("__day"), col("cents"),
        trailing = 32)
      .orderBy(col("user_id"))
  }

  /** Chapman capture-recapture ([[graft.ops.Stats.captureRecapture]]):
    * estimate the distinct-user population from two independent
    * md5-hash samples of the event stream — the cheap cardinality
    * audit when each pipeline pass only observes a slice.
    */
  private def qCapture(s: SparkSession, dir: String): DataFrame = {
    val h = md5(col("user_id").cast("string").cast("binary"))
    graft.ops.Stats.captureRecapture(t(s, dir, "events"), col("user_id"),
      substring(h, 1, 1) <= "7", substring(h, 32, 1) <= "7")
  }

  /** Gumbel block-maxima fit ([[graft.ops.Stats.gumbelFit]]) on daily
    * peak event values per type: the extreme-value answer to "what
    * 30-day peak should we provision for?" — method-of-moments β/μ and
    * the T=30 return level off one exact-moment pass over the daily
    * maxima.
    */
  private def qEvt(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(max(col("value")).as("mx"))
    graft.ops.Stats.gumbelFit(daily, Seq("event_type"), col("mx"),
        returnPeriod = 30)
      .orderBy(col("event_type"))
  }

  /** Poisson dispersion test ([[graft.ops.Stats.poissonDispersion]])
    * on daily event counts per type: is event arrival clumpier than
    * Poisson? One group-keyed pass over exact integer counts — the
    * cheap burstiness alarm before any rate model is trusted.
    */
  private def qDispersion(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(count(lit(1)).as("c"))
    graft.ops.Stats.poissonDispersion(daily, Seq("event_type"), col("c"))
      .orderBy(col("event_type"))
  }

  /** Weibull fit by median-rank regression
    * ([[graft.ops.Survival.weibullFit]]) over q_km's churned
    * durations: the two-parameter summary of HOW churn hazard evolves
    * — shape < 1 means early-life churn, > 1 means wear-out — where
    * the KM curve only draws it. Distinct-duration rank layer, narrow
    * rank explode, nano-quantized log-log coordinates.
    */
  private def qWeibull(s: SparkSession, dir: String): DataFrame = {
    val subj = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        floor((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          / lit(86400000000L)).as("dur_days"),
        when(max(unix_micros(col("ts"))) < lit(1706486400000000L), 1L)
          .otherwise(0L).as("churned"))
    graft.ops.Survival.weibullFit(subj, col("dur_days"), col("churned"))
  }

  /** Restricted mean survival time ([[graft.ops.Survival.rmst]]) over
    * q_km's churn durations: average days survived in the first 30 —
    * the area under the KM curve as one exact micro-unit rectangle sum,
    * the single-number summary when the median never crosses.
    */
  private def qRmst(s: SparkSession, dir: String): DataFrame = {
    val subj = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        floor((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          / lit(86400000000L)).as("dur_days"),
        when(max(unix_micros(col("ts"))) < lit(1706486400000000L), 1L)
          .otherwise(0L).as("churned"))
    graft.ops.Survival.rmst(subj, col("dur_days"), col("churned"), tau = 30L)
  }

  /** Runs test ([[graft.ops.Timeseries.runsTest]]): is each event
    * type's daily revenue random about its own median, judged on the
    * SEQUENCE of above/below flags — the companion randomness check
    * to q_turning_points' local-extrema view, off an exact per-series
    * median cut.
    */
  private def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("amount", col("cents") / lit(100.0))
    graft.ops.Timeseries.runsTest(daily, Seq("event_type"),
        col("day"), col("amount"))
      .orderBy(col("event_type"))
  }

  /** Cross-correlation ([[graft.ops.Timeseries.crossCorrelation]]):
    * does hourly purchase revenue LEAD hourly click revenue or lag it?
    * ccf(k) for k ∈ −6..6 over the aligned hourly series — the
    * lead-lag screen before any causal claim, pairwise-complete exact
    * moments per lag.
    */
  private def qCcf(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))).as("px"),
        sum(when(col("event_type") === "click",
          round(col("value") * 100).cast("long"))).as("cx"))
      .withColumn("k", lit("all"))
    graft.ops.Timeseries.crossCorrelation(hourly, Seq("k"), col("h"),
        col("px").cast("double"), col("cx").cast("double"), maxLag = 6)
      .orderBy(col("lag"))
  }

  /** Newey-West mean SE ([[graft.ops.Timeseries.neweyWestMeanSe]]):
    * the honest uncertainty of each event type's mean daily revenue —
    * autocorrelation-adjusted with Bartlett weights at lag 6, beside
    * the i.i.d. s/√n it corrects. Exact mean-cleared autocovariance
    * sums off one series exchange.
    */
  private def qNwSe(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("amount", col("cents") / lit(100.0))
    graft.ops.Timeseries.neweyWestMeanSe(daily, Seq("event_type"),
        col("day"), col("amount"), maxLag = 6)
      .orderBy(col("event_type"))
  }

  /** Daily micro-quantized revenue per event type — the shared input of
    * the unit-root family (q_kpss / q_adf / q_var_ratio). */
  private def dailyAmount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("amount", col("cents") / lit(100.0))

  /** KPSS level-stationarity test ([[graft.ops.Timeseries.kpssTest]])
    * on daily revenue per event type: is each stream stationary around
    * its mean, or drifting — the null-reversed partner of q_adf (KPSS
    * rejects STATIONARITY, DF rejects the unit root; disagreement is
    * the interesting diagnosis). Bartlett long-run variance at lag 6,
    * exact-decimal partial sums, one series exchange.
    */
  private def qKpss(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.kpssTest(dailyAmount(s, dir), Seq("event_type"),
        col("day"), col("amount"), maxLag = 6)
      .orderBy(col("event_type"))

  /** Dickey-Fuller unit-root test
    * ([[graft.ops.Timeseries.dickeyFullerTest]]) on the same daily
    * revenue: does each stream mean-revert (t_df below the DF critical
    * values) or walk randomly — closed-form Δxₜ-on-xₜ₋₁ OLS off five
    * exact moments, no solver.
    */
  private def qAdf(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.dickeyFullerTest(dailyAmount(s, dir),
        Seq("event_type"), col("day"), col("amount"))
      .orderBy(col("event_type"))

  /** Shewhart individuals chart ([[graft.ops.Timeseries.controlChart]])
    * on daily revenue per event type: the process-control limits
    * (x̄ ± 2.66·MR̄) and how many days breach them — fixed-limit
    * process health beside q_anomaly's trailing z and q_cusum's drift
    * walk. Exact moving-range sums, integer violation fences.
    */
  private def qSpc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.controlChart(dailyAmount(s, dir),
        Seq("event_type"), col("day"), col("amount"))
      .orderBy(col("event_type"))

  /** Effective sample size
    * ([[graft.ops.Timeseries.effectiveSampleSize]]) of the hourly
    * revenue series at lag 6: how many independent observations each
    * stream is actually worth — the deflator that turns q_autocorr's
    * correlations into a "how long must I monitor?" answer. Exact
    * 6-dp ρ sums on the existing series exchange.
    */
  private def qEffectiveN(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("__h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    graft.ops.Timeseries.effectiveSampleSize(hourly, Seq("event_type"),
        col("__h"), col("cents"), maxLag = 6)
      .orderBy(col("event_type"))
  }

  /** Discrete periodogram ([[graft.ops.Timeseries.periodogram]]) of
    * daily revenue per event type at frequencies 1–16: WHERE is the
    * cycle — the spectral view whose weekly peak q_autocorr's lag-7
    * correlation and q_seasonal's factors both presuppose. Exact
    * demeaning, milli-micro quantized trig terms, one narrow
    * frequency explode.
    */
  private def qPeriodogram(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.periodogram(dailyAmount(s, dir), Seq("event_type"),
        col("day"), col("amount"), maxFreq = 16)
      .orderBy(col("event_type"), col("freq"))

  /** Seasonal strength ([[graft.ops.Timeseries.seasonalStrength]]):
    * how much of each event type's detrended daily variation the
    * weekday explains — the one number that says whether q_seasonal's
    * factors are worth a model. Closed-form trend, bucket-mean
    * removal, exact quantized variance passes.
    */
  private def qSeasonalStrength(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.seasonalStrength(dailyAmount(s, dir),
        Seq("event_type"), col("day"), col("amount"),
        bucket = dayofweek(to_date(col("day"))))
      .orderBy(col("event_type"))

  /** Linear multi-touch attribution
    * ([[graft.ops.Funnel.linearAttribution]]): purchase value split
    * equally over the clicks since the user's previous purchase,
    * credited to the CLICK's hour of day — which hours' engagement
    * actually converts, the question q_funnel's step counts and a
    * last-click readout both miss. One user-keyed sort, co-keyed
    * window joins, nano-quantized per-touch credit.
    */
  private def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.linearAttribution(t(s, dir, "events"),
        "user_id", "ts", "event_id",
        isTouch = col("event_type") === "click",
        isConversion = col("event_type") === "purchase",
        valueCol = col("value"), bucket = hour(col("ts")).cast("long"))
      .orderBy(col("bucket"))

  /** Shapley-value channel attribution ([[graft.ops.Funnel
    * .shapleyAttribution]]): the game-theoretic conversion split over
    * (view, click, signup) that q_attribution's positional heuristic
    * cannot justify — exact 2³-coalition arithmetic in 3!-units, one
    * user-keyed pass then cell-table joins. Efficiency holds exactly:
    * Σφ = converters(N) − zero-touch converters.
    */
  private def qShapley(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.shapleyAttribution(t(s, dir, "events"),
      "user_id", "event_type", Seq("view", "click", "signup"), "purchase")

  /** Markov removal-effect attribution ([[graft.ops.Funnel
    * .removalEffects]]): q_shapley's set-based split ignores ORDER;
    * this one models the journey as a first-order chain and prices
    * each channel by how much the absorption probability into
    * `conversion` drops when the channel is knocked out. Up to 16 exact
    * big-integer value-iteration sweeps per scenario, stopping at the
    * exact fixed point, and the oracle's 16 unrolled CTEs give the same
    * answer.
    */
  private def qRemoval(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.removalEffects(
      t(s, dir, "events").filter(col("user_id").isNotNull),
      "user_id", "ts", "event_id", "event_type",
      Seq("view", "click", "signup"), "purchase")

  /** Oracle for q_removal: the journey-edge windows, the transition
    * census, and FOUR unrolled 16-sweep HUGEINT value-iteration chains
    * (base + one per knocked-out channel).
    */
  private def removalOracleSql: String = {
    val unit = 1000000000L
    def chain(tag: String, removed: Option[String]): String = {
      val rm = removed.map(r => s"WHEN st2.st = '$r' THEN 0\n       |      ")
        .getOrElse("")
      val p0 =
        s"""${tag}p0 AS MATERIALIZED (
           |  SELECT st, CASE WHEN st = 'conversion' THEN CAST($unit AS HUGEINT)
           |    ELSE CAST(0 AS HUGEINT) END AS p
           |  FROM states)""".stripMargin
      val steps = (1 to 16).map { k =>
        s"""${tag}s$k AS MATERIALIZED (
           |  SELECT c.f AS st, SUM(p.p * c.n) AS num
           |  FROM cells c JOIN ${tag}p${k - 1} p ON p.st = c.t GROUP BY 1),
           |${tag}p$k AS MATERIALIZED (
           |  SELECT st2.st,
           |    CASE WHEN st2.st = 'conversion' THEN CAST($unit AS HUGEINT)
           |      ${rm}WHEN o.o IS NULL THEN CAST(0 AS HUGEINT)
           |      ELSE COALESCE(s.num // o.o, 0) END AS p
           |  FROM states st2
           |  LEFT JOIN ${tag}s$k s ON s.st = st2.st
           |  LEFT JOIN outs o ON o.f = st2.st)""".stripMargin
      }
      (p0 +: steps).mkString(",\n")
    }
    val scenarios = Seq("b" -> None, "rv" -> Some("view"),
      "rc" -> Some("click"), "rs" -> Some("signup"))
    val chains = scenarios.map { case (t2, r) => chain(t2, r) }.mkString(",\n")
    val per = Seq(("click", "rc"), ("signup", "rs"), ("view", "rv")).map {
      case (ch, tag) =>
        s"""SELECT '$ch' AS channel,
           |  (SELECT p FROM bp16 WHERE st = 'start') AS pb,
           |  (SELECT p FROM ${tag}p16 WHERE st = 'start') AS pc""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT user_id AS u, ts, event_id AS tie,
       |    CASE WHEN event_type = 'purchase' THEN 'conversion'
       |      ELSE event_type END AS s
       |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
       |rn AS MATERIALIZED (
       |  SELECT *, row_number() OVER (PARTITION BY u ORDER BY ts, tie) AS rn
       |  FROM ev),
       |cv AS MATERIALIZED (
       |  SELECT *, MIN(CASE WHEN s = 'conversion' THEN rn END)
       |    OVER (PARTITION BY u) AS cvrn
       |  FROM rn),
       |kept AS MATERIALIZED (SELECT * FROM cv WHERE cvrn IS NULL OR rn <= cvrn),
       |nx AS MATERIALIZED (
       |  SELECT u, s, rn,
       |    lead(s) OVER (PARTITION BY u ORDER BY rn) AS nxt
       |  FROM kept),
       |edges AS MATERIALIZED (
       |  SELECT s AS f, nxt AS t FROM nx WHERE nxt IS NOT NULL
       |  UNION ALL SELECT 'start', s FROM nx WHERE rn = 1
       |  UNION ALL SELECT s, 'null' FROM nx
       |    WHERE nxt IS NULL AND s <> 'conversion'),
       |cells AS MATERIALIZED (SELECT f, t, COUNT(*) AS n FROM edges GROUP BY 1, 2),
       |outs AS MATERIALIZED (SELECT f, SUM(n) AS o FROM cells GROUP BY 1),
       |states AS MATERIALIZED (
       |  SELECT DISTINCT f AS st FROM cells
       |  UNION SELECT DISTINCT t FROM cells),
       |$chains,
       |u2 AS MATERIALIZED (
       |$per),
       |tot AS (SELECT SUM(pb - pc) AS trm FROM u2)
       |SELECT channel, CAST(COALESCE(pb, 0) AS BIGINT) AS p_base_units,
       |  CAST(COALESCE(pc, 0) AS BIGINT) AS p_removed_units,
       |  CAST(COALESCE(pb, 0) - COALESCE(pc, 0) AS BIGINT) AS removal_units,
       |  CASE WHEN trm > 0 THEN
       |    CAST(((pb - pc) * 2000000 + trm) // (trm * 2) AS BIGINT)
       |  END AS share_micros
       |FROM u2 CROSS JOIN tot ORDER BY channel""".stripMargin
  }

  /** Partial autocorrelation at lags 1–3
    * ([[graft.ops.Timeseries.pacf]]) on q_autocorr's hourly revenue
    * series: which lag carries DIRECT signal once shorter lags are
    * controlled — the AR-order picker (a cut-off here + tailing ACF
    * = AR(p)). Closed-form Durbin-Levinson over the exact-identity
    * ρ's, micro-quantized in both engines.
    */
  private def qPacf(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("__h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    graft.ops.Timeseries.pacf(hourly, Seq("event_type"), col("__h"),
        col("cents"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Theta-method forecast ([[graft.ops.Timeseries.thetaForecast]])
    * of daily revenue per event type at 1/7/28 days out: the M3-
    * winning trend+SES combination, with the SES leg on the exact-
    * dyadic α=1/2 machinery over the trailing 32 days — the
    * general-purpose forecast beside q_croston's intermittent-demand
    * special case.
    */
  private def qTheta(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.thetaForecast(dailyAmount(s, dir),
        Seq("event_type"), col("day"), col("amount"), trailing = 32,
        horizons = Seq(1, 7, 28))
      .orderBy(col("event_type"), col("h"))

  /** Lo-MacKinlay variance ratio VR(4)
    * ([[graft.ops.Timeseries.varianceRatio]]) on daily revenue: do
    * 4-day moves diffuse like 4 independent daily moves (VR ≈ 1), or
    * show momentum / mean reversion — the multi-horizon complement of
    * q_autocorr's lag-by-lag view, one series exchange.
    */
  private def qVarRatio(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.varianceRatio(dailyAmount(s, dir),
        Seq("event_type"), col("day"), col("amount"), q = 4)
      .orderBy(col("event_type"))

  /** Seasonal Mann-Kendall ([[graft.ops.Stats.seasonalMannKendall]]):
    * does daily revenue TREND per event type once the weekly cycle is
    * removed — Kendall pairs only within same-weekday series, pooled
    * Hirsch-Slack S and variance, continuity-corrected z. The trend
    * test q_kendall's plain tau would let seasonality fool.
    */
  private def qSeasonalMk(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("amount", col("cents") / lit(100.0))
      .withColumn("dow", dayofweek(to_date(col("day"))))
    graft.ops.Stats.seasonalMannKendall(daily, Seq("event_type"),
        col("dow"), col("day"), col("amount"))
      .orderBy(col("event_type"))
  }

  /** Forecast scorecard ([[graft.ops.Timeseries.forecastAccuracy]]):
    * the seasonal-naive (lag-7) forecast of daily revenue graded per
    * event type — MAE/RMSE/sMAPE plus the scale-free MASE and Theil
    * U2 against the lag-1 persistence baseline, all from one series
    * pass with exact integer error sums.
    */
  private def qForecastAcc(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("amount", col("cents") / lit(100.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    val withF = daily.withColumn("fc", lag(col("amount"), 7).over(w))
    graft.ops.Timeseries.forecastAccuracy(withF, Seq("event_type"),
        col("day"), col("amount"), col("fc"))
      .orderBy(col("event_type"))
  }

  /** Turning-point randomness ([[graft.ops.Timeseries.turningPointTest]]):
    * is each event type's daily revenue series i.i.d.-jagged or
    * trending-smooth? Strict local extrema counted against
    * E[T] = 2(n−2)/3 — the one-exchange sanity check before any
    * forecasting assumption.
    */
  private def qTurningPoints(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("amount", col("cents") / lit(100.0))
    graft.ops.Timeseries.turningPointTest(daily, Seq("event_type"),
        col("day"), col("amount"))
      .orderBy(col("event_type"))
  }

  /** Page-Hinkley drift ([[graft.ops.Timeseries.pageHinkley]]): the
    * running-mean-baselined increase detector on the same daily
    * revenue series q_cusum monitors against its global mean — per-row
    * nano-quantized deviations, exact walk + running-min windows, 6-dp
    * PH before the λ compare.
    */
  private def qPageHinkley(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("amount", col("cents") / lit(100.0))
      .drop("cents")
    graft.ops.Timeseries.pageHinkley(daily, Seq("event_type"), col("day"),
        col("amount"), delta = 10.0, lambda = 500.0)
      .orderBy(col("event_type"), col("day"))
  }

  /** Ljung-Box portmanteau ([[graft.ops.Timeseries.ljungBox]]): is the
    * per-type hourly revenue series white noise over its first six
    * autocorrelations jointly — the one-number readout of what
    * q_autocorr shows lag by lag. Rides the same exact-integer ACF
    * pass; each ρ²/(n−k) term nano-quantizes before the 6-row rollup.
    */
  private def qLjungBox(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("__h"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.ljungBox(hourly, Seq("event_type"), col("__h"),
        col("cents"), maxLag = 6)
      .orderBy(col("event_type"))
  }

  /** CUSUM mean-shift monitor ([[graft.ops.Timeseries.cusum]]) on the
    * daily revenue series per event type — Page's test as two windows
    * (prefix sum + running min) via the n-cleared integer identity, so
    * both CUSUM walks and the alarm flags hash-match exactly.
    */
  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("amount", col("cents") / lit(100.0))
      .drop("cents")
    graft.ops.Timeseries.cusum(daily, Seq("event_type"), col("day"),
        col("amount"), k = 0.0, h = 1000.0)
      .orderBy(col("event_type"), col("day"))
  }

  /** Peak session concurrency ([[graft.ops.RangeJoin.maxConcurrency]]):
    * 30-min-gap user sessions (q_range_join's construction) swept
    * globally — how many sessions were open at the busiest instant, and
    * when. The ungrouped path rides range-partitioned prefix sums
    * (never a whole-frame window); ends sort before starts at the same
    * instant (half-open sessions).
    */
  private def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = t(s, dir, "events").withColumn("new_session",
      when(lag(col("ts"), 1).over(w).isNull ||
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
          >= 1800000000L, 1L).otherwise(0L))
    val sess = flagged
      .withColumn("sid", sum(col("new_session")).over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s_start"),
        (max(col("ts")) + expr("INTERVAL 30 MINUTE")).as("s_end"))
    graft.ops.RangeJoin.maxConcurrency(sess, col("s_start"), col("s_end"))
      .select(col("max_concurrent"),
        date_format(col("at_ts"), "yyyy-MM-dd HH:mm:ss").as("at_ts"))
      // degenerate-input alignment (tools/degenerate_lint.py): the global
      // aggregate emits one all-NULL row on an empty event set where the
      // oracle's LIMIT 1 over no sessions emits nothing; ≥1 on any real row
      .filter(col("max_concurrent").isNotNull)
  }

  /** Theil-Sen robust trend ([[graft.ops.Stats.theilSen]]): the
    * median-of-pairwise-slopes daily revenue trend per event type —
    * q_ols_trend's outlier-immune sibling on the same bounded daily
    * panel, nano-quantized slopes and residuals with exact midpoint
    * medians.
    */
  private def qTheilsen(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    graft.ops.Stats.theilSen(daily, Seq("event_type"), col("day"), col("cents"))
      .orderBy(col("event_type"))
  }

  /** Kendall tau-b / Mann-Kendall trend
    * ([[graft.ops.Stats.kendallTau]]): is daily revenue monotonically
    * trending per event type? With x = day the concordant-discordant
    * sum IS the Mann-Kendall S; the 30-row daily series is exactly the
    * bounded-group shape the pairwise operator is for.
    */
  private def qKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    graft.ops.Stats.kendallTau(daily, Seq("event_type"),
        col("day"), col("cents"))
      .orderBy(col("event_type"))
  }

  /** Holt double-exponential smoothing
    * ([[graft.ops.Timeseries.holtLinear]]): daily revenue per event
    * type smoothed to level+trend with α=1/4, β=1/8 — the one-step
    * forecast q_ewma's trendless state can't give. The recursion folds
    * once per series with integer-nano state, replayed by the oracle's
    * recursive CTE step-for-step. Revenue feeds in DOLLARS (cents/100)
    * so nano-state stays inside the double-exact 2^53 range at 10×
    * scale.
    */
  private def qHolt(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    graft.ops.Timeseries.holtLinear(daily, Seq("event_type"), col("day"),
        col("cents") / lit(100.0), alpha = 0.25, beta = 0.125)
      .orderBy(col("event_type"), col("idx"))
  }

  /** Two-group log-rank test ([[graft.ops.Survival.logRank]]): do
    * even- and odd-id users CHURN differently? — q_km draws the curve,
    * this tests the difference, with the hypergeometric O−E and
    * variance accumulated in exact nanos over the same per-duration
    * risk sets.
    */
  private def qLogrank(s: SparkSession, dir: String): DataFrame = {
    val subj = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        floor((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          / lit(86400000000L)).as("dur_days"),
        when(max(unix_micros(col("ts"))) < lit(1706486400000000L), 1L)
          .otherwise(0L).as("churned"))
    graft.ops.Survival.logRank(subj, col("dur_days"), col("churned"),
      col("user_id") % 2 === 0, col("user_id") % 2 === 1)
  }

  /** Holt-Winters triple smoothing
    * ([[graft.ops.Timeseries.holtWinters]]): daily revenue per event
    * type with a 7-slot weekly seasonal state — the day-of-week
    * pattern q_holt's level+trend smears; the oracle walks the same
    * three-component integer-nano recursion in a recursive CTE
    * carrying the seasonal list.
    */
  private def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    graft.ops.Timeseries.holtWinters(daily, Seq("event_type"), col("day"),
        col("cents") / lit(100.0), alpha = 0.25, beta = 0.125, gamma = 0.25,
        period = 7)
      .orderBy(col("event_type"), col("idx"))
  }

  /** This family's slice of [[graft.SparkEntry.queries]]. */
  /** Offline change-point location ([[Timeseries.changepoint]]): WHERE
    * did each event type's daily revenue level shift — the binary-
    * segmentation base step beside q_cusum's online alarm. The argmax
    * of |n·S_k − k·S_n| stays exact-integer end to end; only the
    * emitted means touch IEEE.
    */
  private def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    Timeseries.changepoint(daily, Seq("event_type"), col("day"), col("cents"))
      .orderBy(col("event_type"))
  }

  /** Wald SPRT over daily purchase conversions ([[Timeseries.sprtBernoulli]]):
    * per A/B arm, when does the sequential evidence let the monitor STOP
    * — H1 "conversion ≥ 30%" vs H0 "= 25%" at α=0.05, β=0.2. The log
    * constants are JVM literals injected into the plan (ln never runs
    * on data), so the whole trajectory and both first-crossing indices
    * replay exactly.
    */
  private def qSprt(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(pmod(col("user_id"), lit(2)).as("arm"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(count(lit(1)).as("trials"),
        sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("successes"))
    Timeseries.sprtBernoulli(daily, Seq("arm"), col("day"),
        col("trials"), col("successes"), p0 = 0.25, p1 = 0.30)
      .orderBy(col("arm"), col("t"))
  }

  /** Maximum drawdown ([[graft.ops.Timeseries.maxDrawdown]]) of each
    * event type's DAILY revenue level: increments are day-over-day
    * revenue changes (first day enters at its level), so the cumulative
    * series is the revenue level itself and max_drawdown is the deepest
    * peak-to-trough revenue fall — with the trough day and the
    * fraction-of-peak. Exact integer cents end-to-end; windows run over
    * the calendar-bounded daily table.
    */
  private def qDrawdown(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val inc = daily.withColumn("chg",
      (col("cents") - coalesce(lag(col("cents"), 1).over(w), lit(0L)))
        .cast("double") / lit(100.0))
    Timeseries.maxDrawdown(inc, Seq("event_type"), col("day"), col("chg"))
      .orderBy(col("event_type"))
  }

  /** Historical VaR + CVaR ([[graft.ops.Timeseries.valueAtRisk]]) at
    * α = 0.95 on the same day-over-day revenue changes: the loss the
    * worst 5% of days reaches (VaR, exact order statistic) and how bad
    * those days are ON AVERAGE (CVaR, exact tie-split tail mean) — the
    * risk pair q_drawdown's single worst episode doesn't give.
    */
  private def qCvar(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val chg = daily
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("chg", (col("cents") - col("prev")).cast("double") / lit(100.0))
    Timeseries.valueAtRisk(chg, Seq("event_type"), col("chg"),
        alphaMicro = 950000L)
      .orderBy(col("event_type"))
  }

  /** In-engine Poisson regression ([[graft.ops.Regression
    * .poissonNewton]]): per-user purchase COUNTS regressed on
    * ln(1+view count) — does browsing volume predict purchase
    * intensity, as a rate? The count-data GLM beside q_logit's
    * binary one: same Newton iteration contract (nano-integer
    * coefficient carry, five-sum scans, CTE-replayed oracle), log
    * link, exposure-free.
    */
  private def qPoissonReg(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
    graft.ops.Regression.poissonNewton(perUser,
      col("purchases"), log(lit(1.0) + col("views")), iterations = 4)
  }

  /** SAX motif census ([[graft.ops.Timeseries.saxMotifs]]): each event
    * type's daily revenue z-scored, PAA-averaged over 2-day segments,
    * mapped to the 4-letter N(0,1)-quartile alphabet, and swept with a
    * 3-symbol sliding word — which local shapes (rise-fall, plateau,
    * spike) recur across the five series. The Lin/Keogh symbolic layer
    * under q_stump/q_changepoint's numeric views; windows run over the
    * calendar-bounded segment table only.
    */
  private def qSax(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("rev", col("cents").cast("double") / lit(100.0))
    Timeseries.saxMotifs(daily, Seq("event_type"), col("day"), col("rev"),
      segLen = 2L, wordLen = 3)
  }

  /** Cox proportional hazards ([[graft.ops.Survival.coxNewton]]):
    * time-to-first-purchase per user (censored at the stream's end for
    * never-buyers) regressed on ln(1+view count) — does browsing volume
    * RAISE the purchase hazard, as a ratio, with censoring handled
    * exactly? Up to four Newton steps on the Breslow partial likelihood,
    * stopping at the exact fixed point, the final score emitted as
    * convergence evidence; every risk-set sum is
    * a cumulative window over the ≤31-row distinct-duration table.
    */
  private def qCox(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val perUser = e.groupBy(col("user_id")).agg(
      min(unix_micros(col("ts"))).as("first_ts"),
      min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
        .as("first_purch"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
    val end = e.agg(max(unix_micros(col("ts"))).as("end_ts"))
    val subjects = perUser.crossJoin(broadcast(end)).select(
      floor((coalesce(col("first_purch"), col("end_ts")) - col("first_ts"))
        .cast("double") / lit(86400000000.0)).cast("long").as("t_days"),
      col("first_purch").isNotNull.cast("long").as("ev"),
      log(lit(1.0) + col("views")).as("x"))
    graft.ops.Survival.coxNewton(subjects, col("t_days"), col("ev"), col("x"),
      iterations = 4)
  }

  /** Harrell's C-index ([[graft.ops.Survival.concordanceIndex]]) of the
    * q_cox risk factor: does raw view count ORDER the time-to-purchase
    * events (strict-time comparable pairs, score ties at ½)? The
    * discrimination readout for the fitted hazard model, computed with
    * two window passes over the densified duration×views grid — the
    * quadratic pair space never materializes. All-BIGINT output.
    */
  private def qHarrellC(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val perUser = e.groupBy(col("user_id")).agg(
      min(unix_micros(col("ts"))).as("first_ts"),
      min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
        .as("first_purch"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
    val end = e.agg(max(unix_micros(col("ts"))).as("end_ts"))
    val subjects = perUser.crossJoin(broadcast(end)).select(
      floor((coalesce(col("first_purch"), col("end_ts")) - col("first_ts"))
        .cast("double") / lit(86400000000.0)).cast("long").as("t_days"),
      col("first_purch").isNotNull.cast("long").as("ev"),
      col("views"))
    graft.ops.Survival.concordanceIndex(subjects, col("t_days"), col("ev"),
      col("views"))
  }

  private def harrellCOracleSql: String =
    """WITH pu AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS first_ts,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      AS first_purch,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views
      |  FROM events GROUP BY 1),
      |en AS (SELECT MAX(epoch_us(ts)) AS end_ts FROM events),
      |subj AS (
      |  SELECT CAST(floor(CAST(COALESCE(first_purch, end_ts) - first_ts
      |      AS DOUBLE) / 86400000000.0) AS BIGINT) AS t,
      |    CASE WHEN first_purch IS NOT NULL THEN 1 ELSE 0 END AS e,
      |    views AS s
      |  FROM pu, en),
      |cells AS (
      |  SELECT t, s, COUNT(*) AS n, SUM(e) AS d FROM subj GROUP BY 1, 2),
      |grid AS (
      |  SELECT tt.t, ss.s, COALESCE(c.n, 0) AS n, COALESCE(c.d, 0) AS d
      |  FROM (SELECT DISTINCT t FROM cells) tt
      |  CROSS JOIN (SELECT DISTINCT s FROM cells) ss
      |  LEFT JOIN cells c ON c.t = tt.t AND c.s = ss.s),
      |wa AS (
      |  SELECT t, s, n, d,
      |    COALESCE(SUM(n) OVER (PARTITION BY s ORDER BY t
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS a
      |  FROM grid),
      |wb AS (
      |  SELECT t, s, n, d, a,
      |    COALESCE(SUM(a) OVER (PARTITION BY t ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b,
      |    SUM(a) OVER (PARTITION BY t) AS ct
      |  FROM wa),
      |agg AS (
      |  SELECT SUM(n) AS n, SUM(d) AS n_events,
      |    SUM(CAST(d AS HUGEINT) * ct) AS cmp,
      |    SUM(CAST(d AS HUGEINT) * b) AS cc,
      |    SUM(CAST(d AS HUGEINT) * a) AS tt
      |  FROM wb)
      |SELECT CAST(n AS BIGINT) AS n, CAST(n_events AS BIGINT) AS n_events,
      |  CAST(cmp AS BIGINT) AS comparable_pairs,
      |  CAST(cc AS BIGINT) AS concordant_pairs,
      |  CAST(tt AS BIGINT) AS tied_pairs,
      |  CASE WHEN cmp > 0 THEN
      |    CAST(((cc * 2 + tt) * 2000000000 + cmp * 2) // (cmp * 4) AS BIGINT)
      |  END AS c_index_nano
      |FROM agg""".stripMargin

  private def coxOracleSql: String = {
    def scoreCtes(tag: String, prevB: String): String =
      s"""byt_$tag AS (
         |  SELECT t, SUM(e) AS d,
         |    SUM(CASE WHEN e = 1 THEN CAST(round(x * 1000000000.0) AS HUGEINT)
         |        ELSE 0 END) AS sx,
         |    SUM(CAST(round(exp(bd * x) * 1000000000.0) AS HUGEINT)) AS r0,
         |    SUM(CAST(round((x * exp(bd * x)) * 1000000000.0) AS HUGEINT)) AS r1,
         |    SUM(CAST(round((x * x * exp(bd * x)) * 1000000000.0) AS HUGEINT)) AS r2,
         |    MAX(bn) AS bn
         |  FROM (SELECT s.t, s.e, s.x, p.bn,
         |          CAST(p.bn AS DOUBLE) / 1000000000.0 AS bd
         |        FROM subj s CROSS JOIN $prevB p) q
         |  GROUP BY t),
         |cum_$tag AS (
         |  SELECT t, d, sx, bn,
         |    SUM(r0) OVER (ORDER BY t DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0,
         |    SUM(r1) OVER (ORDER BY t DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
         |    SUM(r2) OVER (ORDER BY t DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2
         |  FROM byt_$tag),
         |ui_$tag AS (
         |  SELECT MAX(bn) AS bn,
         |    SUM(CAST(round((CAST(sx AS DOUBLE) / 1000000000.0
         |      - CAST(d AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE)))
         |      * 1000000000.0) AS HUGEINT)) AS u,
         |    SUM(CAST(round((CAST(d AS DOUBLE)
         |      * (CAST(s2 AS DOUBLE) / CAST(s0 AS DOUBLE)
         |        - (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))
         |          * (CAST(s1 AS DOUBLE) / CAST(s0 AS DOUBLE))))
         |      * 1000000000.0) AS HUGEINT)) AS i
         |  FROM cum_$tag WHERE d > 0 AND s0 > 0)""".stripMargin
    val iters = (1 to 4).map { k =>
      scoreCtes(s"$k", s"i${k - 1}") + s""",
         |i$k AS (
         |  SELECT bn + CAST(round((CAST(u AS DOUBLE) / 1000000000.0)
         |    / (CAST(i AS DOUBLE) / 1000000000.0)
         |    * 1000000000.0) AS BIGINT) AS bn
         |  FROM ui_$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH pu AS (
       |  SELECT user_id, MIN(epoch_us(ts)) AS first_ts,
       |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
       |      AS first_purch,
       |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views
       |  FROM events GROUP BY 1),
       |mx AS (SELECT MAX(epoch_us(ts)) AS end_ts FROM events),
       |subj AS (
       |  SELECT CAST(floor(CAST(COALESCE(first_purch, end_ts) - first_ts
       |      AS DOUBLE) / 86400000000.0) AS BIGINT) AS t,
       |    CASE WHEN first_purch IS NOT NULL THEN 1 ELSE 0 END AS e,
       |    ln(1.0 + views) AS x
       |  FROM pu CROSS JOIN mx),
       |i0 AS (SELECT CAST(0 AS BIGINT) AS bn),
       |$iters,
       |${scoreCtes("f", "i4")},
       |fin AS (SELECT COUNT(*) AS n, SUM(e) AS n_events FROM subj)
       |SELECT fin.n, CAST(fin.n_events AS BIGINT) AS n_events,
       |  round(CAST(ui_f.bn AS DOUBLE) / 1000000000.0, 6) AS beta,
       |  round(exp(CAST(ui_f.bn AS DOUBLE) / 1000000000.0), 6) AS hr,
       |  round(1.0 / sqrt(CAST(ui_f.i AS DOUBLE) / 1000000000.0), 6) AS se,
       |  round(CAST(ui_f.bn AS DOUBLE) / 1000000000.0
       |    * sqrt(CAST(ui_f.i AS DOUBLE) / 1000000000.0), 6) AS z,
       |  round(CAST(ui_f.u AS DOUBLE) / 1000000000.0, 6) AS u_residual
       |FROM fin CROSS JOIN ui_f""".stripMargin
  }

  /** Haar wavelet energy ([[graft.ops.Timeseries.haarEnergy]]): which
    * TIME SCALE carries each event type's daily-revenue variance —
    * three levels of exact-integer pairwise sums/differences over the
    * calendar-bounded daily table, detail energy per level with its
    * share. The time-localized complement of q_periodogram's global
    * frequencies (a single spike loads the wavelet details but smears
    * across the periodogram).
    */
  private def qWavelet(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("rev", col("cents").cast("double") / lit(100.0))
    Timeseries.haarEnergy(daily, Seq("event_type"), col("day"), col("rev"),
        levels = 3)
      .orderBy(col("event_type"), col("level"))
  }

  /** Transfer entropy both ways ([[graft.ops.Timeseries
    * .transferEntropy]]): does purchase activity INFORM next-hour click
    * activity beyond click's own history, or the reverse — lag-1
    * binary-state TE in nats over the aligned hourly revenue series,
    * the any-functional-form complement of q_granger's linear test.
    * Cells and marginals are exact counts over a ≤8-row table.
    */
  private def qTransferEntropy(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(floor(unix_micros(col("ts")) / lit(3600000000L)).as("hour"))
      .agg(
        (sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L))
          .cast("double") / lit(100.0)).as("p"),
        (sum(when(col("event_type") === "click",
          round(col("value") * 100).cast("long")).otherwise(0L))
          .cast("double") / lit(100.0)).as("c"))
    val pc = Timeseries.transferEntropy(hourly, col("hour"), col("p"), col("c"))
      .select(lit("purchase>click").as("direction"), col("n_transitions"),
        col("te_nats"))
    val cp = Timeseries.transferEntropy(hourly, col("hour"), col("c"), col("p"))
      .select(lit("click>purchase").as("direction"), col("n_transitions"),
        col("te_nats"))
    pc.unionByName(cp).orderBy(col("direction"))
  }

  /** Permutation entropy ([[graft.ops.Timeseries.permutationEntropy]]):
    * Bandt-Pompe ordinal complexity of each event type's daily revenue
    * — 0 = monotone/regular, 1 = pattern-uniform noise; robust to any
    * monotone rescaling. The complexity screen beside q_hurst's
    * long-memory exponent, computed from exact triple-pattern counts.
    */
  private def qPermEntropy(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("rev", col("cents").cast("double") / lit(100.0))
    Timeseries.permutationEntropy(daily, Seq("event_type"), col("day"),
        col("rev"))
      .orderBy(col("event_type"))
  }

  /** Unbiased pass@k ([[graft.ops.Calibration.passAtK]]): treating each
    * user as a TASK and their events as sampled ATTEMPTS (purchase =
    * success), the Chen-et-al estimator of "what fraction of tasks
    * succeed within k attempts" at k = 1, 3, 5 — the eval-harness
    * number whose naive first-k version is biased. Product-form
    * combinatorics as one fixed tree per task; tasks with fewer than k
    * attempts are excluded and counted.
    */
  private def qPassAtK(s: SparkSession, dir: String): DataFrame =
    graft.ops.Calibration.passAtK(t(s, dir, "events"),
        col("user_id"), col("event_type") === "purchase", ks = Seq(1, 3, 5))
      .orderBy(col("k"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pass_at_k" -> (qPassAtK _),
    "q_changepoint" -> (qChangepoint _),
    "q_drawdown" -> (qDrawdown _),
    "q_cvar" -> (qCvar _),
    "q_poisson_reg" -> (qPoissonReg _),
    "q_sax" -> (qSax _),
    "q_cox" -> (qCox _),
    "q_harrell_c" -> (qHarrellC _),
    "q_wavelet" -> (qWavelet _),
    "q_transfer_entropy" -> (qTransferEntropy _),
    "q_perm_entropy" -> (qPermEntropy _),
    "q_entropy_rate" -> (qEntropyRate _),
    "q_sprt" -> (qSprt _),
    "q_holt" -> (qHolt _),
    "q_holt_winters" -> (qHoltWinters _),
    "q_logrank" -> (qLogrank _),
    "q_autocorr" -> (qAutocorr _),
    "q_ar_fit" -> (qArFit _),
    "q_evt" -> (qEvt _),
    "q_croston" -> (qCroston _),
    "q_stationary" -> (qStationary _),
    "q_granger" -> (qGranger _),
    "q_chow" -> (qChow _),
    "q_hurst" -> (qHurst _),
    "q_arch" -> (qArch _),
    "q_influence" -> (qInfluence _),
    "q_capture" -> (qCapture _),
    "q_dispersion" -> (qDispersion _),
    "q_rmst" -> (qRmst _),
    "q_ljung_box" -> (qLjungBox _),
    "q_page_hinkley" -> (qPageHinkley _),
    "q_forecast_acc" -> (qForecastAcc _),
    "q_turning_points" -> (qTurningPoints _),
    "q_seasonal_mk" -> (qSeasonalMk _),
    "q_nw_se" -> (qNwSe _),
    "q_kpss" -> (qKpss _),
    "q_weibull" -> (qWeibull _),
    "q_adf" -> (qAdf _),
    "q_var_ratio" -> (qVarRatio _),
    "q_pacf" -> (qPacf _),
    "q_theta" -> (qTheta _),
    "q_attribution" -> (qAttribution _),
    "q_shapley" -> (qShapley _),
    "q_removal" -> (qRemoval _),
    "q_periodogram" -> (qPeriodogram _),
    "q_seasonal_strength" -> (qSeasonalStrength _),
    "q_effective_n" -> (qEffectiveN _),
    "q_spc" -> (qSpc _),
    "q_runs_test" -> (qRunsTest _),
    "q_ccf" -> (qCcf _),
    "q_concurrency" -> (qConcurrency _),
    "q_kendall" -> (qKendall _),
    "q_theilsen" -> (qTheilsen _),
    "q_hazard" -> (qHazard _),
    "q_cusum" -> (qCusum _),
    "q_km" -> (qKm _),
    "q_aalen_johansen" -> (qAalenJohansen _),
    "q_seasonal" -> (qSeasonal _),
    "q_ffill" -> (qFfill _),
    "q_shifted_ffill" -> (qShiftedFfill _),
    "q_tumbling" -> (qTumbling _),
    "q_sessionize" -> (qSessionize _),
    "q_rolling" -> (qRolling _),
    "q_sliding" -> (qSliding _),
    "q_session_window" -> (qSessionWindow _),
    "q_funnel" -> (qFunnel _),
    "q_resample" -> (qResample _),
    "q_retention" -> (qRetention _),
    "q_cooccur" -> (qCooccur _),
    "q_streaks" -> (qStreaks _),
    "q_transitions" -> (qTransitions _),
    "q_seq3" -> (qSeq3 _),
    "q_rolling_active" -> (qRollingActive _),
    "q_conversion_lag" -> (qConversionLag _),
    "q_ewma" -> (qEwma _),
    "q_rolling_hll" -> (qRollingHll _),
  )

  /** DuckDB replay of [[graft.ops.Timeseries.crossCorrelation]] on the
    * hourly purchase/click frame: per-lag pairwise-complete moments as
    * generated conditional sums, Pearson per lag in exact integer
    * algebra cast to double at the end.
    */
  private def ccfOracleSql(maxLag: Int): String = {
    def t(k: Int) = if (k < 0) s"m${-k}" else s"p$k"
    val offs = (-maxLag to maxLag).filter(_ != 0).toList
    val allLags = 0 :: offs
    val lagDefs = offs.map { k =>
      if (k > 0) s"lead(y, $k) OVER w AS y${t(k)}"
      else s"lag(y, ${-k}) OVER w AS y${t(k)}"
    }.mkString(",\n    ")
    val momDefs = allLags.map { k =>
      val yk = if (k == 0) "y" else s"y${t(k)}"
      s"""SUM(CASE WHEN $yk IS NOT NULL THEN 1 ELSE 0 END) AS n${t(k)},
         |    SUM(CASE WHEN $yk IS NOT NULL THEN x END) AS sx${t(k)},
         |    SUM(CASE WHEN $yk IS NOT NULL THEN $yk END) AS sy${t(k)},
         |    SUM(CASE WHEN $yk IS NOT NULL THEN CAST(x AS HUGEINT) * x END) AS sxx${t(k)},
         |    SUM(CASE WHEN $yk IS NOT NULL THEN CAST($yk AS HUGEINT) * $yk END) AS syy${t(k)},
         |    SUM(CASE WHEN $yk IS NOT NULL THEN CAST(x AS HUGEINT) * $yk END) AS sxy${t(k)}""".stripMargin
    }.mkString(",\n    ")
    val unions = allLags.map { k =>
      s"SELECT $k AS lag, n${t(k)} AS n, sx${t(k)} AS sx, sy${t(k)} AS sy, " +
        s"sxx${t(k)} AS sxx, syy${t(k)} AS syy, sxy${t(k)} AS sxy FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH hc AS (
       |  SELECT date_trunc('hour', ts) AS h,
       |    SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) END) AS pc,
       |    SUM(CASE WHEN event_type = 'click'
       |      THEN CAST(round(value * 100) AS BIGINT) END) AS cc
       |  FROM events GROUP BY 1),
       |v AS (
       |  SELECT h, CAST(round(CAST(pc AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
       |    CAST(round(CAST(cc AS DOUBLE) * 1000000.0) AS BIGINT) AS y
       |  FROM hc WHERE pc IS NOT NULL AND cc IS NOT NULL),
       |l AS (
       |  SELECT x, y, $lagDefs
       |  FROM v WINDOW w AS (ORDER BY h)),
       |a AS (
       |  SELECT $momDefs
       |  FROM l),
       |u AS (
       |  $unions)
       |SELECT 'all' AS k, lag, CAST(COALESCE(n, 0) AS BIGINT) AS n_pairs,
       |  CASE WHEN n >= 2
       |      AND CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
       |      AND CAST(n * syy - sy * sy AS DOUBLE) > 0.0 THEN
       |    round(CAST(n * sxy - sx * sy AS DOUBLE)
       |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
       |        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       |  END AS ccf
       |FROM u WHERE (SELECT COUNT(*) FROM v) > 0 ORDER BY lag""".stripMargin
  }

  private def autocorrOracleSql(maxLag: Int): String = {
    val lagCols = (1 to maxLag).map(k => s"lag(x, $k) OVER w AS l$k").mkString(", ")
    val aggCols = (1 to maxLag).map { k =>
      s"""SUM(CASE WHEN l$k IS NOT NULL THEN x * l$k END) AS sxy$k,
         |    SUM(CASE WHEN l$k IS NOT NULL THEN x END) AS hh$k,
         |    SUM(CASE WHEN l$k IS NOT NULL THEN l$k END) AS tt$k,
         |    SUM(CASE WHEN l$k IS NOT NULL THEN 1 ELSE 0 END) AS np$k""".stripMargin
    }.mkString(",\n    ")
    val unions = (1 to maxLag).map { k =>
      s"SELECT event_type, $k AS lag, np$k AS np, sxy$k AS sxy, hh$k AS hh, tt$k AS tt, n, s, sxx FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH hv AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
       |  FROM events GROUP BY 1, 2),
       |l AS (
       |  SELECT event_type, x, $lagCols
       |  FROM hv WINDOW w AS (PARTITION BY event_type ORDER BY h)),
       |a AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS sxx,
       |    $aggCols
       |  FROM l GROUP BY 1),
       |u AS (
       |  $unions)
       |SELECT event_type, lag, CAST(COALESCE(np, 0) AS BIGINT) AS n_pairs,
       |  CASE WHEN np >= 2
       |        AND CAST(n * (n * sxx - s * s) AS DOUBLE) > 0
       |    THEN round(
       |      CAST(n * n * sxy - n * s * (hh + tt) + (n - lag) * s * s AS DOUBLE)
       |      / CAST(n * (n * sxx - s * s) AS DOUBLE), 6)
       |  END AS acf
       |FROM u ORDER BY event_type, lag""".stripMargin
  }

  /** Oracle for [[qEffectiveN]]: [[autocorrOracleSql]]'s exact-identity
    * ρ CTEs rolled up to ESS = n / (1 + 2·Σρ).
    */
  private def essOracleSql(maxLag: Int): String = {
    val lagCols = (1 to maxLag).map(k => s"lag(x, $k) OVER w AS l$k").mkString(", ")
    val aggCols = (1 to maxLag).map { k =>
      s"""SUM(CASE WHEN l$k IS NOT NULL THEN x * l$k END) AS sxy$k,
         |    SUM(CASE WHEN l$k IS NOT NULL THEN x END) AS hh$k,
         |    SUM(CASE WHEN l$k IS NOT NULL THEN l$k END) AS tt$k,
         |    SUM(CASE WHEN l$k IS NOT NULL THEN 1 ELSE 0 END) AS np$k""".stripMargin
    }.mkString(",\n    ")
    val unions = (1 to maxLag).map { k =>
      s"SELECT event_type, $k AS lag, np$k AS np, sxy$k AS sxy, hh$k AS hh, tt$k AS tt, n, s, sxx FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH hv AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
       |  FROM events GROUP BY 1, 2),
       |l AS (
       |  SELECT event_type, x, $lagCols
       |  FROM hv WINDOW w AS (PARTITION BY event_type ORDER BY h)),
       |a AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS sxx,
       |    $aggCols
       |  FROM l GROUP BY 1),
       |u AS (
       |  $unions),
       |acf AS (
       |  SELECT event_type, lag, CAST(COALESCE(np, 0) AS BIGINT) AS n_pairs,
       |    CASE WHEN np >= 2
       |          AND CAST(n * (n * sxx - s * s) AS DOUBLE) > 0
       |      THEN round(
       |        CAST(n * n * sxy - n * s * (hh + tt) + (n - lag) * s * s AS DOUBLE)
       |        / CAST(n * (n * sxx - s * s) AS DOUBLE), 6)
       |    END AS acf
       |  FROM u),
       |r AS (
       |  SELECT event_type, MAX(n_pairs + lag) AS n,
       |    SUM(CASE WHEN acf IS NOT NULL THEN
       |      CAST(round(acf * 1000000.0) AS BIGINT) ELSE 0 END) AS r6,
       |    SUM(CASE WHEN acf IS NULL THEN 1 ELSE 0 END) AS miss
       |  FROM acf GROUP BY 1)
       |SELECT event_type, CAST(n AS BIGINT) AS n,
       |  round(CAST(r6 AS DOUBLE) / 1000000.0, 6) AS sum_acf,
       |  CASE WHEN miss = 0
       |      AND 1.0 + 2.0 * (CAST(r6 AS DOUBLE) / 1000000.0) > 0.0 THEN
       |    round(CAST(n AS DOUBLE)
       |      / (1.0 + 2.0 * (CAST(r6 AS DOUBLE) / 1000000.0)), 6) END AS ess
       |FROM r ORDER BY event_type""".stripMargin
  }

  private def transferEntropyOracleSql: String = {
    def side(label: String, src: String, tgt: String): String =
      s"""SELECT '$label' AS direction, CAST(n_transitions AS BIGINT) AS n_transitions,
         |  CASE WHEN n_transitions > 0 THEN
         |    round(CAST(tsum AS DOUBLE) / 1000000000.0
         |      / CAST(n_transitions AS DOUBLE), 6) END AS te_nats
         |FROM (
         |  SELECT SUM(n) AS n_transitions,
         |    SUM(CAST(round(CAST(n AS DOUBLE)
         |      * (ln(CAST(n AS DOUBLE) * CAST(nyp AS DOUBLE))
         |        - ln(CAST(nypxp AS DOUBLE) * CAST(nyuyp AS DOUBLE)))
         |      * 1000000000.0) AS HUGEINT)) AS tsum
         |  FROM (
         |    SELECT n,
         |      SUM(n) OVER (PARTITION BY yp) AS nyp,
         |      SUM(n) OVER (PARTITION BY yp, xp) AS nypxp,
         |      SUM(n) OVER (PARTITION BY yu, yp) AS nyuyp
         |    FROM (
         |      SELECT yu, yp, xp, COUNT(*) AS n
         |      FROM (
         |        SELECT xu, yu,
         |          lag(xu, 1) OVER (ORDER BY hour) AS xp,
         |          lag(yu, 1) OVER (ORDER BY hour) AS yp
         |        FROM (
         |          SELECT hour,
         |            CAST($src > lag($src, 1) OVER (ORDER BY hour) AS BIGINT) AS xu,
         |            CAST($tgt > lag($tgt, 1) OVER (ORDER BY hour) AS BIGINT) AS yu
         |          FROM hl) u) v
         |      WHERE xu IS NOT NULL AND yu IS NOT NULL
         |        AND xp IS NOT NULL AND yp IS NOT NULL
         |      GROUP BY 1, 2, 3) c) m)""".stripMargin
    s"""WITH hourly AS (
       |  SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hour,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
       |      / 100.0 AS p,
       |    CAST(SUM(CASE WHEN event_type = 'click'
       |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS DOUBLE)
       |      / 100.0 AS c
       |  FROM events GROUP BY 1),
       |hl AS (
       |  SELECT hour, CAST(round(p * 1000000.0) AS BIGINT) AS ps,
       |    CAST(round(c * 1000000.0) AS BIGINT) AS cs
       |  FROM hourly)
       |${side("purchase>click", "ps", "cs")}
       |UNION ALL
       |${side("click>purchase", "cs", "ps")}
       |ORDER BY direction""".stripMargin
  }

  private def poissonOracleSql: String = {
    val iters = (1 to 4).map { i =>
      s"""s$i AS (
         |  SELECT MAX(b0n) AS b0n, MAX(b1n) AS b1n,
         |    SUM(CAST(round((y - lam) * 1000000000.0) AS HUGEINT)) AS g0n,
         |    SUM(CAST(round((x * (y - lam)) * 1000000000.0) AS HUGEINT)) AS g1n,
         |    SUM(CAST(round(lam * 1000000000.0) AS HUGEINT)) AS h00n,
         |    SUM(CAST(round((x * lam) * 1000000000.0) AS HUGEINT)) AS h01n,
         |    SUM(CAST(round((x * x * lam) * 1000000000.0) AS HUGEINT)) AS h11n
         |  FROM (
         |    SELECT y, x, b0n, b1n,
         |      exp(CAST(b0n AS DOUBLE) / 1000000000.0
         |        + CAST(b1n AS DOUBLE) / 1000000000.0 * x) AS lam
         |    FROM base CROSS JOIN i${i - 1}) t),
         |i$i AS (
         |  SELECT
         |    b0n + CAST(round((CAST(h11n AS DOUBLE) / 1000000000.0
         |        * (CAST(g0n AS DOUBLE) / 1000000000.0)
         |      - CAST(h01n AS DOUBLE) / 1000000000.0
         |        * (CAST(g1n AS DOUBLE) / 1000000000.0))
         |      / (CAST(h00n AS DOUBLE) / 1000000000.0
         |          * (CAST(h11n AS DOUBLE) / 1000000000.0)
         |        - CAST(h01n AS DOUBLE) / 1000000000.0
         |          * (CAST(h01n AS DOUBLE) / 1000000000.0))
         |      * 1000000000.0) AS BIGINT) AS b0n,
         |    b1n + CAST(round((CAST(h00n AS DOUBLE) / 1000000000.0
         |        * (CAST(g1n AS DOUBLE) / 1000000000.0)
         |      - CAST(h01n AS DOUBLE) / 1000000000.0
         |        * (CAST(g0n AS DOUBLE) / 1000000000.0))
         |      / (CAST(h00n AS DOUBLE) / 1000000000.0
         |          * (CAST(h11n AS DOUBLE) / 1000000000.0)
         |        - CAST(h01n AS DOUBLE) / 1000000000.0
         |          * (CAST(h01n AS DOUBLE) / 1000000000.0))
         |      * 1000000000.0) AS BIGINT) AS b1n
         |  FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
       |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views
       |  FROM events GROUP BY 1),
       |base AS (
       |  SELECT CAST(purchases AS DOUBLE) AS y, ln(1.0 + views) AS x FROM pu),
       |i0 AS (SELECT CAST(0 AS BIGINT) AS b0n, CAST(0 AS BIGINT) AS b1n),
       |$iters,
       |fin AS (
       |  SELECT COUNT(*) AS n, SUM(CAST(y AS BIGINT)) AS y_sum,
       |    MAX(CAST(b0n AS DOUBLE) / 1000000000.0) AS b0,
       |    MAX(CAST(b1n AS DOUBLE) / 1000000000.0) AS b1,
       |    SUM(CAST(round((y * (CAST(b0n AS DOUBLE) / 1000000000.0
       |        + CAST(b1n AS DOUBLE) / 1000000000.0 * x)
       |      - exp(CAST(b0n AS DOUBLE) / 1000000000.0
       |        + CAST(b1n AS DOUBLE) / 1000000000.0 * x))
       |      * 1000000000.0) AS HUGEINT)) AS lln
       |  FROM base CROSS JOIN i4)
       |SELECT n, CAST(y_sum AS BIGINT) AS y_sum,
       |  round(b0, 6) AS b0, round(b1, 6) AS b1,
       |  round(CAST(lln AS DOUBLE) / 1000000000.0, 6) AS ll
       |FROM fin""".stripMargin
  }

  /** This family's slice of [[graft.SparkEntry.oracleSql]]. */
  def oracleSql: Map[String, String] = Map(
    "q_effective_n" -> essOracleSql(maxLag = 6),
    "q_poisson_reg" -> poissonOracleSql,
    "q_cox" -> coxOracleSql,
    "q_harrell_c" -> harrellCOracleSql,
    "q_transfer_entropy" -> transferEntropyOracleSql,
    "q_wavelet" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS HUGEINT) AS x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
        |  FROM daily),
        |l1 AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(i AS DOUBLE) / 2.0) AS BIGINT) AS p,
        |    COUNT(*) AS c, SUM(x) AS s,
        |    SUM(CASE WHEN i % 2 = 0 THEN x ELSE -x END) AS d
        |  FROM v GROUP BY 1, 2),
        |l1k AS (SELECT * FROM l1 WHERE c = 2),
        |e1 AS (
        |  SELECT event_type, 1 AS level, COUNT(*) AS n_pairs,
        |    SUM(d * d) AS e, SUM(d * d) * 4 AS esc
        |  FROM l1k GROUP BY 1),
        |v2 AS (
        |  SELECT event_type, s AS x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY p) - 1 AS i
        |  FROM l1k),
        |l2 AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(i AS DOUBLE) / 2.0) AS BIGINT) AS p,
        |    COUNT(*) AS c, SUM(x) AS s,
        |    SUM(CASE WHEN i % 2 = 0 THEN x ELSE -x END) AS d
        |  FROM v2 GROUP BY 1, 2),
        |l2k AS (SELECT * FROM l2 WHERE c = 2),
        |e2 AS (
        |  SELECT event_type, 2 AS level, COUNT(*) AS n_pairs,
        |    SUM(d * d) AS e, SUM(d * d) * 2 AS esc
        |  FROM l2k GROUP BY 1),
        |v3 AS (
        |  SELECT event_type, s AS x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY p) - 1 AS i
        |  FROM l2k),
        |l3 AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(i AS DOUBLE) / 2.0) AS BIGINT) AS p,
        |    COUNT(*) AS c,
        |    SUM(CASE WHEN i % 2 = 0 THEN x ELSE -x END) AS d
        |  FROM v3 GROUP BY 1, 2),
        |e3 AS (
        |  SELECT event_type, 3 AS level, COUNT(*) AS n_pairs,
        |    SUM(d * d) AS e, SUM(d * d) * 1 AS esc
        |  FROM l3 WHERE c = 2 GROUP BY 1),
        |al AS (
        |  SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3),
        |wt AS (
        |  SELECT event_type, level, n_pairs, e, esc,
        |    SUM(esc) OVER (PARTITION BY event_type) AS tot
        |  FROM al)
        |SELECT event_type, level, n_pairs,
        |  round(CAST(e AS DOUBLE) / pow(2.0, CAST(level AS DOUBLE))
        |    / 1000000000000.0, 6) AS energy,
        |  CASE WHEN tot > 0 THEN
        |    round(CAST(esc AS DOUBLE) / CAST(tot AS DOUBLE), 6) END AS energy_share
        |FROM wt ORDER BY event_type, level""".stripMargin,
    "q_perm_entropy" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM daily),
        |tri AS (
        |  SELECT event_type, x,
        |    lead(x, 1) OVER w AS y, lead(x, 2) OVER w AS z
        |  FROM v WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |pats AS (
        |  SELECT event_type,
        |    CAST(x <= y AS BIGINT) * 4 + CAST(y <= z AS BIGINT) * 2
        |      + CAST(x <= z AS BIGINT) AS pat,
        |    COUNT(*) AS n
        |  FROM tri WHERE y IS NOT NULL AND z IS NOT NULL
        |  GROUP BY 1, 2),
        |ag AS (
        |  SELECT event_type, SUM(n) AS n_triples, COUNT(*) AS n_patterns,
        |    SUM(CAST(round(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
        |      * 1000000000.0) AS HUGEINT)) AS nln
        |  FROM pats GROUP BY 1)
        |SELECT event_type, CAST(n_triples AS BIGINT) AS n_triples,
        |  CAST(n_patterns AS BIGINT) AS n_patterns,
        |  CASE WHEN n_triples > 0 THEN
        |    round((ln(CAST(n_triples AS DOUBLE))
        |      - CAST(nln AS DOUBLE) / 1000000000.0 / CAST(n_triples AS DOUBLE))
        |      / ln(6.0), 6) END AS h_norm
        |FROM ag ORDER BY event_type""".stripMargin,
    "q_sax" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM daily),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s1,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s2,
        |    MIN(day) AS o0
        |  FROM b GROUP BY 1),
        |ms AS (
        |  SELECT event_type, o0,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt((CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0)) AS sd
        |  FROM st),
        |paa AS (
        |  SELECT b.event_type,
        |    CAST(floor(CAST(b.day - ms.o0 AS DOUBLE) / 2.0) AS BIGINT) AS seg,
        |    MAX(ms.mu) AS mu, MAX(ms.sd) AS sd,
        |    CAST(SUM(CAST(b.x AS HUGEINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pm
        |  FROM b JOIN ms ON b.event_type = ms.event_type
        |  WHERE ms.sd > 0.0
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT event_type, seg,
        |    CASE WHEN (pm - mu) / sd < -0.6745 THEN 'a'
        |         WHEN (pm - mu) / sd < 0.0 THEN 'b'
        |         WHEN (pm - mu) / sd < 0.6745 THEN 'c'
        |         ELSE 'd' END AS s
        |  FROM paa),
        |words AS (
        |  SELECT event_type, seg,
        |    s || lead(s, 1) OVER w || lead(s, 2) OVER w AS word,
        |    lead(seg, 2) OVER w AS segEnd
        |  FROM sym
        |  WINDOW w AS (PARTITION BY event_type ORDER BY seg))
        |SELECT word, COUNT(DISTINCT event_type) AS n_series,
        |  COUNT(*) AS occurrences
        |FROM words
        |WHERE segEnd IS NOT NULL AND segEnd = seg + 2
        |GROUP BY 1
        |ORDER BY occurrences DESC, word""".stripMargin,
    "q_drawdown" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |inc AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents - COALESCE(
        |      lag(cents, 1) OVER (PARTITION BY event_type ORDER BY day), 0)
        |      AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM daily),
        |cum AS (
        |  SELECT event_type, day, x,
        |    SUM(CAST(x AS HUGEINT)) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM inc),
        |pk AS (
        |  SELECT event_type, day, x, c,
        |    MAX(c) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM cum),
        |dd AS (SELECT event_type, day, x, c, p, p - c AS d FROM pk),
        |pick AS (
        |  SELECT event_type, day, p, d,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY d DESC, day DESC, p DESC) AS rk
        |  FROM dd),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS tot,
        |    MAX(p) AS maxpk, MAX(d) AS mdd
        |  FROM dd GROUP BY 1)
        |SELECT a.event_type, a.n,
        |  round(CAST(a.tot AS DOUBLE) / 1000000.0, 6) AS total,
        |  round(CAST(a.maxpk AS DOUBLE) / 1000000.0, 6) AS peak,
        |  round(CAST(a.mdd AS DOUBLE) / 1000000.0, 6) AS max_drawdown,
        |  CASE WHEN CAST(t.p AS DOUBLE) > 0.0
        |    THEN round(CAST(a.mdd AS DOUBLE) / CAST(t.p AS DOUBLE), 6)
        |  END AS dd_frac,
        |  t.day AS trough_o
        |FROM agg a JOIN (SELECT * FROM pick WHERE rk = 1) t USING (event_type)
        |ORDER BY a.event_type""".stripMargin,
    "q_cvar" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |chg AS (
        |  SELECT event_type,
        |    -CAST(round((CAST(cents
        |      - lag(cents, 1) OVER (PARTITION BY event_type ORDER BY day)
        |      AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS l
        |  FROM daily
        |  QUALIFY lag(cents, 1) OVER (PARTITION BY event_type ORDER BY day) IS NOT NULL),
        |c AS (SELECT event_type, l, COUNT(*) AS cnt FROM chg GROUP BY 1, 2),
        |cc AS (
        |  SELECT event_type, l, cnt,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY l DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM c),
        |mm AS (
        |  SELECT event_type, l, cnt, ct, n,
        |    n - CAST(floor(CAST(950000 * n + 999999 AS DOUBLE) / 1000000.0)
        |      AS BIGINT) + 1 AS m
        |  FROM cc),
        |t AS (
        |  SELECT event_type, n, m,
        |    CASE WHEN ct <= m THEN CAST(l AS HUGEINT) * cnt
        |         WHEN ct >= m AND ct - cnt < m
        |           THEN CAST(l AS HUGEINT) * (m - (ct - cnt))
        |         ELSE 0 END AS ts,
        |    CASE WHEN ct >= m AND ct - cnt < m THEN l END AS vr
        |  FROM mm),
        |a AS (
        |  SELECT event_type, n, m, SUM(ts) AS tail, MAX(vr) AS v
        |  FROM t GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(n - m + 1 AS BIGINT) AS k_rank, CAST(m AS BIGINT) AS tail_m,
        |  round(CAST(v AS DOUBLE) / 1000000.0, 6) AS var_loss,
        |  CASE WHEN m >= 1
        |    THEN round(CAST(tail AS DOUBLE) / CAST(m AS DOUBLE) / 1000000.0, 6)
        |  END AS cvar_loss
        |FROM a ORDER BY event_type""".stripMargin,
    "q_spc" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |l AS (
        |  SELECT event_type, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS p
        |  FROM v),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
        |    SUM(CASE WHEN p IS NOT NULL THEN CAST(abs(x - p) AS HUGEINT) END) AS smr,
        |    SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS nmr
        |  FROM l GROUP BY 1),
        |lim AS (
        |  SELECT event_type, n,
        |    round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean,
        |    CASE WHEN nmr >= 1 THEN
        |      round(CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE) / 1000000.0, 6)
        |    END AS mr_bar,
        |    CASE WHEN nmr >= 1
        |        AND CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE) / 1000000.0 > 0.0
        |      THEN round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |        + 2.66 * (CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE)
        |          / 1000000.0), 6) END AS ucl,
        |    CASE WHEN nmr >= 1
        |        AND CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE) / 1000000.0 > 0.0
        |      THEN round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |        - 2.66 * (CAST(smr AS DOUBLE) / CAST(nmr AS DOUBLE)
        |          / 1000000.0), 6) END AS lcl
        |  FROM a),
        |vio AS (
        |  SELECT v.event_type,
        |    SUM(CASE WHEN ucl IS NOT NULL
        |      AND x > CAST(round(ucl * 1000000.0) AS BIGINT)
        |      THEN 1 ELSE 0 END) AS n_above,
        |    SUM(CASE WHEN lcl IS NOT NULL
        |      AND x < CAST(round(lcl * 1000000.0) AS BIGINT)
        |      THEN 1 ELSE 0 END) AS n_below
        |  FROM v JOIN lim ON v.event_type = lim.event_type GROUP BY 1)
        |SELECT lim.event_type, CAST(n AS BIGINT) AS n, mean, mr_bar, ucl, lcl,
        |  CAST(n_above AS BIGINT) AS n_above, CAST(n_below AS BIGINT) AS n_below
        |FROM lim JOIN vio ON lim.event_type = vio.event_type
        |ORDER BY lim.event_type""".stripMargin,
    "q_changepoint" ->
      """WITH d AS (
        |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT g, day, CAST(round(cents * 1000000.0) AS HUGEINT) AS x
        |  FROM d WHERE cents IS NOT NULL AND day IS NOT NULL),
        |c AS (SELECT g, COUNT(*) AS n, SUM(x) AS s FROM b GROUP BY 1),
        |p AS (
        |  SELECT g, day, x,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY day, x) AS k,
        |    SUM(x) OVER (PARTITION BY g ORDER BY day, x
        |      ROWS UNBOUNDED PRECEDING) AS sk
        |  FROM b),
        |cand AS (
        |  SELECT p.g, day, k, sk, n, s, abs(n * sk - k * s) AS dd
        |  FROM p JOIN c ON p.g = c.g WHERE k < n),
        |best AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY dd DESC, k) AS rn
        |    FROM cand) t
        |  WHERE rn = 1)
        |SELECT c.g AS event_type, CAST(c.n AS BIGINT) AS n,
        |  CAST(best.k AS BIGINT) AS split_idx, best.day AS split_at,
        |  round(CAST(dd AS DOUBLE) / CAST(c.n AS DOUBLE) / 1000000.0, 6)
        |    AS cusum_max,
        |  round(CAST(sk AS DOUBLE) / CAST(best.k AS DOUBLE) / 1000000.0, 6)
        |    AS mean_before,
        |  round(CAST(best.s - sk AS DOUBLE) / CAST(c.n - best.k AS DOUBLE)
        |    / 1000000.0, 6) AS mean_after,
        |  round(CAST(best.s - sk AS DOUBLE) / CAST(c.n - best.k AS DOUBLE)
        |      / 1000000.0
        |    - CAST(sk AS DOUBLE) / CAST(best.k AS DOUBLE) / 1000000.0, 6)
        |    AS shift
        |FROM c LEFT JOIN best ON c.g = best.g
        |ORDER BY event_type""".stripMargin,
    "q_sprt" -> {
      val (p0, p1, alpha, beta) = (0.25, 0.30, 0.05, 0.2)
      val l1 = math.log(p1 / p0)
      val l0 = math.log((1.0 - p1) / (1.0 - p0))
      val thrA = math.log((1.0 - beta) / alpha)
      val thrB = math.log(beta / (1.0 - alpha))
      s"""WITH d AS (
        |  SELECT user_id % 2 AS arm, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS trials,
        |    SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS successes
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |cum AS (
        |  SELECT arm, day,
        |    ROW_NUMBER() OVER (PARTITION BY arm ORDER BY day) AS i,
        |    SUM(trials) OVER (PARTITION BY arm ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS n_cum,
        |    SUM(successes) OVER (PARTITION BY arm ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS s_cum
        |  FROM d WHERE day IS NOT NULL AND trials IS NOT NULL
        |    AND successes IS NOT NULL),
        |l AS (
        |  SELECT arm, day, i, n_cum, s_cum,
        |    (CAST(s_cum AS DOUBLE) * ${l1})
        |      + (CAST(n_cum - s_cum AS DOUBLE) * ${l0}) AS llr
        |  FROM cum)
        |SELECT arm, day AS t, CAST(n_cum AS BIGINT) AS n_cum,
        |  CAST(s_cum AS BIGINT) AS s_cum, round(llr, 6) AS llr,
        |  CASE WHEN llr >= ${thrA} THEN 'h1'
        |       WHEN llr <= ${thrB} THEN 'h0'
        |       ELSE 'continue' END AS state,
        |  MIN(CASE WHEN llr >= ${thrA} THEN i END)
        |    OVER (PARTITION BY arm ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS first_h1_idx,
        |  MIN(CASE WHEN llr <= ${thrB} THEN i END)
        |    OVER (PARTITION BY arm ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS first_h0_idx
        |FROM l ORDER BY arm, t""".stripMargin
    },
    "q_logrank" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS BIGINT) AS t,
        |    CASE WHEN max(epoch_us(ts)) < 1706486400000000 THEN 1 ELSE 0 END AS e,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g
        |  FROM events GROUP BY user_id),
        |byt AS (
        |  SELECT t,
        |    SUM(CASE WHEN g = 'a' THEN e ELSE 0 END) AS da,
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS la,
        |    SUM(CASE WHEN g = 'b' THEN e ELSE 0 END) AS db,
        |    SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS lb
        |  FROM subj GROUP BY 1),
        |r AS (
        |  SELECT t, da, db,
        |    (SELECT SUM(la) FROM byt)
        |      - COALESCE(SUM(la) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
        |    (SELECT SUM(lb) FROM byt)
        |      - COALESCE(SUM(lb) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
        |  FROM byt),
        |terms AS (
        |  SELECT da, db,
        |    CASE WHEN da + db > 0 THEN CAST(round(CAST(da + db AS DOUBLE)
        |      * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE) * 1e9) AS BIGINT)
        |    ELSE 0 END AS et,
        |    CASE WHEN da + db > 0 AND na + nb > 1 THEN CAST(round(
        |      CAST(da + db AS DOUBLE)
        |      * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |      * (CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |      * ((CAST(na + nb AS DOUBLE) - CAST(da + db AS DOUBLE))
        |         / (CAST(na + nb AS DOUBLE) - 1.0)) * 1e9) AS BIGINT)
        |    ELSE 0 END AS vt
        |  FROM r),
        |a AS (
        |  SELECT (SELECT SUM(la) FROM byt) AS n_a, (SELECT SUM(lb) FROM byt) AS n_b,
        |    SUM(da) AS d_a, SUM(db) AS d_b, SUM(et) AS se, SUM(vt) AS sv
        |  FROM terms)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(d_a AS BIGINT) AS d_a, CAST(d_b AS BIGINT) AS d_b,
        |  round(CAST(se AS DOUBLE) / 1e9, 6) AS e_a,
        |  CASE WHEN sv > 0 THEN round((CAST(d_a AS DOUBLE) - CAST(se AS DOUBLE) / 1e9)
        |    / sqrt(CAST(sv AS DOUBLE) / 1e9), 6) END AS z,
        |  CASE WHEN sv > 0 THEN round(
        |    (CAST(d_a AS DOUBLE) - CAST(se AS DOUBLE) / 1e9)
        |    * (CAST(d_a AS DOUBLE) - CAST(se AS DOUBLE) / 1e9)
        |    / (CAST(sv AS DOUBLE) / 1e9), 6) END AS chi2
        |FROM a""".stripMargin,
    "q_holt_winters" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT g, day,
        |    CAST(round(CAST(cents AS DOUBLE) / 100.0 * 1000000000.0) AS BIGINT) AS x
        |  FROM d),
        |ser AS (SELECT g, list(x ORDER BY day) AS xs, COUNT(*) AS n FROM v GROUP BY 1),
        |st AS (
        |  SELECT g, 1 AS i, xs, n, CAST(xs[1] AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b,
        |    list_transform(range(7), r -> CAST(0.0 AS DOUBLE)) AS seas
        |  FROM ser
        |  UNION ALL
        |  SELECT g, i + 1, xs, n, lN AS l,
        |    round(0.125 * (lN - l0) + 0.875 * b0) AS b,
        |    list_transform(seas, (sv, si) -> CASE WHEN si = slot1
        |      THEN round(0.25 * (xv - lN) + 0.75 * sOld) ELSE sv END) AS seas
        |  FROM (
        |    SELECT *, round(0.25 * (xv - sOld) + 0.75 * (l0 + b0)) AS lN
        |    FROM (
        |      SELECT g, i, xs, n, l AS l0, b AS b0, seas,
        |        (i % 7) + 1 AS slot1,
        |        CAST(xs[i + 1] AS DOUBLE) AS xv,
        |        seas[(i % 7) + 1] AS sOld
        |      FROM st WHERE i < n) t0) t1)
        |SELECT g AS event_type, i AS idx,
        |  CAST(xs[i] AS DOUBLE) / 1e9 AS x,
        |  l / 1e9 AS level,
        |  b / 1e9 AS trend,
        |  seas[((i - 1) % 7) + 1] / 1e9 AS seasonal,
        |  CAST(CAST(l AS BIGINT) + CAST(b AS BIGINT)
        |    + CAST(seas[(i % 7) + 1] AS BIGINT) AS DOUBLE) / 1e9 AS forecast
        |FROM st ORDER BY g, i""".stripMargin,
    "q_holt" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT g, day,
        |    CAST(round(CAST(cents AS DOUBLE) / 100.0 * 1000000000.0) AS BIGINT) AS x
        |  FROM d),
        |ser AS (SELECT g, list(x ORDER BY day) AS xs, COUNT(*) AS n FROM v GROUP BY 1),
        |st AS (
        |  SELECT g, 1 AS i, xs, n, CAST(xs[1] AS DOUBLE) AS l,
        |    CAST(0.0 AS DOUBLE) AS b
        |  FROM ser
        |  UNION ALL
        |  SELECT g, i + 1, xs, n,
        |    round(0.25 * CAST(xs[i + 1] AS DOUBLE) + 0.75 * (l + b)) AS l,
        |    round(0.125 * (round(0.25 * CAST(xs[i + 1] AS DOUBLE) + 0.75 * (l + b)) - l)
        |      + 0.875 * b) AS b
        |  FROM st WHERE i < n)
        |SELECT g AS event_type, i AS idx,
        |  CAST(xs[i] AS DOUBLE) / 1e9 AS x,
        |  l / 1e9 AS level,
        |  b / 1e9 AS trend,
        |  CAST(CAST(l AS BIGINT) + CAST(b AS BIGINT) AS DOUBLE) / 1e9 AS forecast
        |FROM st ORDER BY g, i""".stripMargin,
    "q_autocorr" -> autocorrOracleSql(maxLag = 6),
    "q_pacf" ->
      """WITH hv AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, h,
        |    CAST(round(CAST(cents AS DOUBLE) * 1000000.0) AS BIGINT) AS x
        |  FROM hv WHERE cents IS NOT NULL),
        |l AS (
        |  SELECT event_type, x,
        |    lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
        |    lag(x, 3) OVER w AS l3
        |  FROM v WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS s, SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(x AS HUGEINT) * l1 END) AS sxy1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS h1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN CAST(l1 AS HUGEINT) END) AS t1,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(x AS HUGEINT) * l2 END) AS sxy2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS h2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN CAST(l2 AS HUGEINT) END) AS t2,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(x AS HUGEINT) * l3 END) AS sxy3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS h3,
        |    SUM(CASE WHEN l3 IS NOT NULL THEN CAST(l3 AS HUGEINT) END) AS t3
        |  FROM l GROUP BY 1),
        |r AS (
        |  SELECT event_type, n,
        |    CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * sxx - s * s)
        |      AS DOUBLE) AS den,
        |    CAST(CAST(n AS HUGEINT) * n * sxy1 - CAST(n AS HUGEINT) * s * (h1 + t1)
        |      + (CAST(n AS HUGEINT) - 1) * s * s AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * sxx - s * s)
        |        AS DOUBLE) AS r1,
        |    CAST(CAST(n AS HUGEINT) * n * sxy2 - CAST(n AS HUGEINT) * s * (h2 + t2)
        |      + (CAST(n AS HUGEINT) - 2) * s * s AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * sxx - s * s)
        |        AS DOUBLE) AS r2,
        |    CAST(CAST(n AS HUGEINT) * n * sxy3 - CAST(n AS HUGEINT) * s * (h3 + t3)
        |      + (CAST(n AS HUGEINT) - 3) * s * s AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * sxx - s * s)
        |        AS DOUBLE) AS r3
        |  FROM a),
        |p1 AS (SELECT *, 1.0 - r1 * r1 AS d2 FROM r),
        |p2 AS (SELECT *, (r2 - r1 * r1) / d2 AS p22 FROM p1),
        |p3 AS (SELECT *, r1 - p22 * r1 AS p21 FROM p2),
        |p4 AS (SELECT *, 1.0 - p21 * r1 - p22 * r2 AS d3 FROM p3),
        |p5 AS (SELECT *, (r3 - p21 * r2 - p22 * r1) / d3 AS p33 FROM p4),
        |u AS (
        |  SELECT event_type, n, 1 AS lag,
        |    CASE WHEN n >= 5 AND den > 0.0 THEN round(r1, 6) END AS pacf FROM p5
        |  UNION ALL SELECT event_type, n, 2,
        |    CASE WHEN n >= 5 AND den > 0.0 AND d2 <> 0.0 THEN round(p22, 6) END
        |  FROM p5
        |  UNION ALL SELECT event_type, n, 3,
        |    CASE WHEN n >= 5 AND den > 0.0 AND d2 <> 0.0 AND d3 <> 0.0 THEN
        |      round(p33, 6) END
        |  FROM p5)
        |SELECT event_type, CAST(n AS BIGINT) AS n, lag, pacf
        |FROM u ORDER BY event_type, lag""".stripMargin,
    "q_periodogram" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |i AS (
        |  SELECT event_type, x,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(CAST(x AS HUGEINT)) OVER (PARTITION BY event_type) AS s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
        |  FROM v),
        |e AS (
        |  SELECT event_type, n, t,
        |    CAST(CAST(n AS HUGEINT) * x - s AS DOUBLE) / CAST(n AS DOUBLE) AS xc,
        |    unnest(range(1, 17)) AS freq
        |  FROM i),
        |tt AS (
        |  SELECT event_type, freq, n,
        |    CAST(round(xc * cos(2.0 * pi() * freq * t / CAST(n AS DOUBLE))
        |      * 1000.0) AS BIGINT) AS ct,
        |    CAST(round(xc * sin(2.0 * pi() * freq * t / CAST(n AS DOUBLE))
        |      * 1000.0) AS BIGINT) AS st
        |  FROM e),
        |a AS (
        |  SELECT event_type, freq, MAX(n) AS n, SUM(ct) AS c, SUM(st) AS s2
        |  FROM tt GROUP BY 1, 2)
        |SELECT event_type, CAST(freq AS BIGINT) AS freq, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / CAST(freq AS DOUBLE), 6) AS period_len,
        |  CASE WHEN n >= 32 THEN
        |    round((CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
        |      + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE)
        |      / 1000000000000000000.0, 6) END AS power
        |FROM a ORDER BY event_type, freq""".stripMargin,
    "q_seasonal_strength" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |i AS (
        |  SELECT event_type, day, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
        |  FROM v),
        |fit AS (
        |  SELECT event_type, COUNT(*) AS nall,
        |    SUM(CAST(t AS HUGEINT)) AS st, SUM(CAST(t AS HUGEINT) * t) AS stt,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(t AS HUGEINT) * x) AS stx
        |  FROM i GROUP BY 1),
        |f1 AS (
        |  SELECT event_type, nall, CAST(nall AS DOUBLE) AS m,
        |    CAST(st AS DOUBLE) AS fst, CAST(stt AS DOUBLE) AS fstt,
        |    CAST(sx AS DOUBLE) AS fsx, CAST(stx AS DOUBLE) AS fstx
        |  FROM fit),
        |f2 AS (
        |  SELECT event_type, nall, m, fsx, fst,
        |    m * fstt - fst * fst AS den,
        |    (m * fstx - fst * fsx) / (m * fstt - fst * fst) AS bb
        |  FROM f1),
        |f3 AS (
        |  SELECT event_type, nall, den, bb, (fsx - bb * fst) / m AS a
        |  FROM f2),
        |dt AS (
        |  SELECT i.event_type, dayofweek(CAST(day AS DATE)) AS b, nall, den,
        |    CAST(round((x - (a + bb * t)) * 1000.0) AS BIGINT) AS dd
        |  FROM i JOIN f3 ON i.event_type = f3.event_type),
        |bm AS (
        |  SELECT event_type, b, COUNT(*) AS nb,
        |    SUM(CAST(dd AS HUGEINT)) AS sb
        |  FROM dt GROUP BY 1, 2),
        |wm AS (
        |  SELECT dt.event_type, dt.nall, dt.den, dd,
        |    CAST(round((CAST(dd AS DOUBLE) - CAST(sb AS DOUBLE)
        |      / CAST(nb AS DOUBLE)) * 1000.0) AS BIGINT) AS rr
        |  FROM dt JOIN bm ON dt.event_type = bm.event_type AND dt.b = bm.b),
        |fin AS (
        |  SELECT event_type, MAX(nall) AS n, MAX(den) AS dn,
        |    SUM(CAST(dd AS HUGEINT)) AS sd, SUM(CAST(dd AS HUGEINT) * dd) AS sdd,
        |    SUM(CAST(rr AS HUGEINT)) AS sr, SUM(CAST(rr AS HUGEINT) * rr) AS srr
        |  FROM wm GROUP BY 1),
        |nb2 AS (SELECT event_type, COUNT(*) AS n_buckets FROM bm GROUP BY 1),
        |c AS (
        |  SELECT f.event_type, n, n_buckets, dn,
        |    CAST(CAST(n AS HUGEINT) * sdd - sd * sd AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |      / 1000000000000000000.0 AS vard,
        |    CAST(CAST(n AS HUGEINT) * srr - sr * sr AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |      / 1000000000000000000000000.0 AS varr
        |  FROM fin f JOIN nb2 ON f.event_type = nb2.event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CASE WHEN n >= 3 AND dn > 0.0 AND vard > 0.0 THEN
        |    round(vard, 6) END AS var_detrended,
        |  CASE WHEN n >= 3 AND dn > 0.0 AND vard > 0.0 THEN
        |    round(varr, 6) END AS var_remainder,
        |  CASE WHEN n >= 3 AND dn > 0.0 AND vard > 0.0 THEN
        |    round(GREATEST(0.0, 1.0 - varr / vard), 6) END AS strength
        |FROM c ORDER BY event_type""".stripMargin,
    "q_removal" -> removalOracleSql,
    "q_shapley" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      + MAX(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
        |      + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS m,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
        |  FROM events GROUP BY 1),
        |census AS (SELECT m, COUNT(*) AS nu, SUM(cv) AS nc FROM pu GROUP BY 1),
        |coal AS (SELECT unnest(range(0, 8)) AS s),
        |v AS (SELECT s, SUM(nc) AS vv FROM census JOIN coal ON (m & s) = m
        |  GROUP BY 1),
        |spine(channel, s0, s1, w) AS (VALUES
        |  ('view', 0, 1, 2), ('view', 2, 3, 1), ('view', 4, 5, 1),
        |  ('view', 6, 7, 2),
        |  ('click', 0, 2, 2), ('click', 1, 3, 1), ('click', 4, 6, 1),
        |  ('click', 5, 7, 2),
        |  ('signup', 0, 4, 2), ('signup', 1, 5, 1), ('signup', 2, 6, 1),
        |  ('signup', 3, 7, 2)),
        |phi AS (
        |  SELECT channel,
        |    SUM((COALESCE(v1.vv, 0) - COALESCE(v0.vv, 0)) * w) AS phiw
        |  FROM spine
        |  LEFT JOIN v v0 ON v0.s = spine.s0
        |  LEFT JOIN v v1 ON v1.s = spine.s1
        |  GROUP BY 1),
        |ex AS (
        |  SELECT c.channel, COUNT(*) AS exposed_users,
        |    SUM(cv) AS exposed_converters
        |  FROM pu, (VALUES ('view', 1), ('click', 2), ('signup', 4))
        |    c(channel, bit)
        |  WHERE (m & bit) <> 0 GROUP BY 1)
        |SELECT p.channel,
        |  COALESCE(exposed_users, 0) AS exposed_users,
        |  COALESCE(CAST(exposed_converters AS BIGINT), 0) AS exposed_converters,
        |  CAST(phiw AS BIGINT) AS phi_factorial_units,
        |  CAST((CAST(phiw AS HUGEINT) * 2000000 + 6)
        |    // (CAST(6 AS HUGEINT) * 2) AS BIGINT) AS phi_micros
        |FROM phi p LEFT JOIN ex USING (channel) ORDER BY channel""".stripMargin,
    "q_attribution" ->
      """WITH t AS (
        |  SELECT user_id AS e, event_type = 'click' AS tt,
        |    event_type = 'purchase' AS cc,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents,
        |    hour(ts) AS b, ts, event_id
        |  FROM events),
        |g AS (
        |  SELECT *, COALESCE(SUM(CASE WHEN cc THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY e ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gg
        |  FROM t),
        |tou AS (SELECT e, gg, b FROM g WHERE tt),
        |ks AS (SELECT e, gg, COUNT(*) AS k FROM tou GROUP BY 1, 2),
        |cv AS (SELECT e, gg, cents FROM g WHERE cc AND cents IS NOT NULL),
        |cr AS (
        |  SELECT b, CAST(round(CAST(cents AS DOUBLE) / 100.0 / CAST(k AS DOUBLE)
        |    * 1000000000.0) AS BIGINT) AS nano
        |  FROM tou JOIN cv USING (e, gg) JOIN ks USING (e, gg))
        |SELECT b AS bucket, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  round(CAST(SUM(nano) AS DOUBLE) / 1000000000.0, 6) AS credit
        |FROM cr GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_theta" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |i AS (
        |  SELECT event_type, day, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
        |  FROM v),
        |fit AS (
        |  SELECT event_type, COUNT(*) AS nall,
        |    SUM(CAST(t AS HUGEINT)) AS st, SUM(CAST(t AS HUGEINT) * t) AS stt,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(t AS HUGEINT) * x) AS stx
        |  FROM i GROUP BY 1),
        |f1 AS (
        |  SELECT event_type, nall, CAST(nall AS DOUBLE) AS m,
        |    CAST(st AS DOUBLE) AS fst, CAST(stt AS DOUBLE) AS fstt,
        |    CAST(sx AS DOUBLE) AS fsx, CAST(stx AS DOUBLE) AS fstx
        |  FROM fit),
        |f2 AS (
        |  SELECT event_type, nall, m, fsx, fst,
        |    m * fstt - fst * fst AS den,
        |    (m * fstx - fst * fsx) / (m * fstt - fst * fst) AS b
        |  FROM f1),
        |f3 AS (
        |  SELECT event_type, nall, den, b, (fsx - b * fst) / m AS a
        |  FROM f2),
        |th AS (
        |  SELECT i.event_type, i.day,
        |    CAST(round((2.0 * CAST(x AS DOUBLE) - (a + b * CAST(t AS DOUBLE)))
        |      / 10000.0) AS BIGINT) AS c,
        |    nall, a, b, den
        |  FROM i JOIN f3 ON i.event_type = f3.event_type),
        |tr AS (
        |  SELECT * FROM (
        |    SELECT th.*, row_number()
        |      OVER (PARTITION BY event_type ORDER BY day DESC) AS rd
        |    FROM th) q WHERE rd <= 32),
        |e AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY event_type ORDER BY day) - 1 AS tt
        |  FROM tr),
        |sw AS (
        |  SELECT *,
        |    sum(c * (1::BIGINT << tt))
        |      OVER (PARTITION BY event_type ORDER BY tt) AS swz
        |  FROM e),
        |lastr AS (
        |  SELECT * FROM (
        |    SELECT sw.*, row_number()
        |      OVER (PARTITION BY event_type ORDER BY day DESC) AS rn
        |    FROM sw) q WHERE rn = 1),
        |ses AS (
        |  SELECT event_type, nall, a, b, den,
        |    CAST(swz AS DOUBLE) / CAST((1::BIGINT << (tt + 1)) - 1 AS DOUBLE) AS sv
        |  FROM lastr)
        |SELECT event_type, CAST(h AS BIGINT) AS h, CAST(nall AS BIGINT) AS n,
        |  CASE WHEN nall >= 3 AND den > 0.0 THEN
        |    round(0.5 * (sv / 100.0)
        |      + 0.5 * ((a + b * (nall - 1 + h)) / 1000000.0), 6) END AS forecast
        |FROM ses CROSS JOIN (VALUES (1), (7), (28)) AS hs(h)
        |ORDER BY event_type, h""".stripMargin,
    "q_evt" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    MAX(value) AS mx
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, CAST(round(mx * 1000000.0) AS BIGINT) AS x
        |  FROM d WHERE mx IS NOT NULL),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS s,
        |    SUM(CAST(x AS HUGEINT) * x) AS ss
        |  FROM v GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_blocks,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean_max,
        |  CASE WHEN n >= 2 AND CAST(n * ss - s * s AS DOUBLE) > 0 THEN
        |    round(sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
        |      / 1000000.0, 6) END AS sd_max,
        |  CASE WHEN n >= 2 AND CAST(n * ss - s * s AS DOUBLE) > 0 THEN
        |    round(sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
        |      / 1000000.0 * sqrt(6.0) / pi(), 6) END AS gumbel_beta,
        |  CASE WHEN n >= 2 AND CAST(n * ss - s * s AS DOUBLE) > 0 THEN
        |    round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |      - 0.5772156649015329 * (sqrt(CAST(n * ss - s * s AS DOUBLE)
        |          / CAST(n * (n - 1) AS DOUBLE)) / 1000000.0 * sqrt(6.0) / pi()), 6)
        |  END AS gumbel_mu,
        |  CASE WHEN n >= 2 AND CAST(n * ss - s * s AS DOUBLE) > 0 THEN
        |    round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |      - 0.5772156649015329 * (sqrt(CAST(n * ss - s * s AS DOUBLE)
        |          / CAST(n * (n - 1) AS DOUBLE)) / 1000000.0 * sqrt(6.0) / pi()))
        |      - (sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
        |          / 1000000.0 * sqrt(6.0) / pi())
        |        * ln(-ln(1.0 - 1.0 / 30.0)), 6)
        |  END AS ret_level
        |FROM a ORDER BY event_type""".stripMargin,
    "q_ar_fit" ->
      """WITH hv AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, x, lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2
        |  FROM hv WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS sxx,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN x * l1 END) AS sxy1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN x END) AS h1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN l1 END) AS t1,
        |    SUM(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS np1,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN x * l2 END) AS sxy2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN x END) AS h2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN l2 END) AS t2,
        |    SUM(CASE WHEN l2 IS NOT NULL THEN 1 ELSE 0 END) AS np2
        |  FROM l GROUP BY 1),
        |r AS (
        |  SELECT event_type, n,
        |    CASE WHEN np1 >= 2 AND CAST(n * (n * sxx - s * s) AS DOUBLE) > 0
        |      THEN CAST(n * n * sxy1 - n * s * (h1 + t1) + (n - 1) * s * s AS DOUBLE)
        |         / CAST(n * (n * sxx - s * s) AS DOUBLE) END AS r1,
        |    CASE WHEN np2 >= 2 AND CAST(n * (n * sxx - s * s) AS DOUBLE) > 0
        |      THEN CAST(n * n * sxy2 - n * s * (h2 + t2) + (n - 2) * s * s AS DOUBLE)
        |         / CAST(n * (n * sxx - s * s) AS DOUBLE) END AS r2
        |  FROM a)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(r1, 6) AS r1, round(r2, 6) AS r2,
        |  round(CASE WHEN 1.0 - r1 * r1 <> 0
        |    THEN r1 * (1.0 - r2) / (1.0 - r1 * r1) END, 6) AS phi1,
        |  round(CASE WHEN 1.0 - r1 * r1 <> 0
        |    THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END, 6) AS phi2
        |FROM r ORDER BY event_type""".stripMargin,
    "q_dispersion" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(c AS HUGEINT)) AS s,
        |    SUM(CAST(c AS HUGEINT) * c) AS ss
        |  FROM d GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |  round(CASE WHEN n >= 2 AND s > 0
        |    THEN CAST(n * ss - s * s AS DOUBLE) / CAST((n - 1) * s AS DOUBLE)
        |    END, 6) AS dispersion,
        |  round(CASE WHEN n >= 2 AND s > 0
        |    THEN CAST(n * ss - s * s AS DOUBLE) / CAST(s AS DOUBLE)
        |    END, 6) AS chi2
        |FROM a ORDER BY event_type""".stripMargin,
    "q_rmst" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS BIGINT) AS t,
        |    CASE WHEN max(epoch_us(ts)) < 1706486400000000 THEN 1 ELSE 0 END AS e
        |  FROM subj_src GROUP BY user_id),
        |byt AS (
        |  SELECT t, SUM(e) AS n_event, COUNT(*) AS leave_n FROM subj GROUP BY 1),
        |w AS (
        |  SELECT t, n_event, leave_n - n_event AS n_censor,
        |    (SELECT SUM(leave_n) FROM byt)
        |      - COALESCE(SUM(leave_n) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt),
        |x AS (
        |  SELECT t, n_risk,
        |    SUM(CASE WHEN n_event > 0 AND n_event < n_risk
        |      THEN CAST(round(ln((CAST(n_risk AS DOUBLE) - CAST(n_event AS DOUBLE))
        |        / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT) ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ln,
        |    MAX(CASE WHEN n_event = n_risk AND n_event > 0 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeroed
        |  FROM w),
        |km AS (
        |  SELECT t, n_risk,
        |    CASE WHEN zeroed = 1 THEN 0.0
        |         ELSE round(exp(CAST(cum_ln AS DOUBLE) / 1e9), 6) END AS survival
        |  FROM x),
        |seg AS (
        |  SELECT t, n_risk,
        |    CAST(round(survival * 1000000.0) AS BIGINT) AS s6,
        |    CASE WHEN t < 30
        |      THEN least(COALESCE(lead(t) OVER (ORDER BY t), 30), 30) - t
        |      ELSE 0 END AS sg
        |  FROM km)
        |SELECT CAST(30 AS BIGINT) AS tau, CAST(MAX(n_risk) AS BIGINT) AS n_subjects,
        |  round(CAST(least(MIN(t), 30) * 1000000 + SUM(s6 * sg) AS DOUBLE)
        |    / 1e6, 6) AS rmst
        |FROM seg""".stripMargin
        .replace("subj_src", "events"),
    "q_ljung_box" ->
      s"""WITH acfv AS (
         |${autocorrOracleSql(maxLag = 6)}
         |),
         |ag AS (
         |  SELECT event_type, MAX(n_pairs + lag) AS n, COUNT(*) AS n_lags,
         |    SUM(CASE WHEN acf IS NOT NULL THEN
         |      CAST(round(acf * acf / CAST(n_pairs AS DOUBLE)
         |        * 1000000000.0) AS BIGINT) END) AS t,
         |    SUM(CASE WHEN acf IS NULL THEN 1 ELSE 0 END) AS bad
         |  FROM acfv GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n,
         |  CAST(n_lags AS BIGINT) AS n_lags,
         |  CASE WHEN bad = 0 AND n > n_lags THEN
         |    round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
         |      * (CAST(t AS DOUBLE) / 1000000000.0), 6) END AS q_lb
         |FROM ag ORDER BY event_type""".stripMargin,
    "q_theilsen" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type,
        |    CAST(round(day * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(cents * 1000000.0) AS BIGINT) AS y
        |  FROM d),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY x, y) AS i
        |  FROM v),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(round(CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
        |      * 1000000000.0) AS BIGINT) AS s
        |  FROM r a JOIN r b ON a.event_type = b.event_type AND a.i < b.i
        |  WHERE a.x <> b.x),
        |np AS (SELECT event_type, COUNT(*) AS n_pairs FROM p GROUP BY 1),
        |nr AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
        |rs AS (
        |  SELECT event_type, s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY s) - 1 AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) - 1 AS m
        |  FROM p),
        |ms AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN rk = m // 2 THEN (2 - (m - (m // 2) * 2)) * s
        |             WHEN rk = m // 2 + 1 THEN (m - (m // 2) * 2) * s
        |             ELSE 0 END) / 2.0 AS slope2
        |  FROM rs GROUP BY 1),
        |bi AS (
        |  SELECT v.event_type,
        |    CAST(round(CAST(y AS DOUBLE) * 1000.0
        |      - slope2 / 1000000000.0 * CAST(x AS DOUBLE) * 1000.0) AS BIGINT) AS b
        |  FROM v JOIN ms ON v.event_type = ms.event_type),
        |rb AS (
        |  SELECT event_type, b,
        |    row_number() OVER (PARTITION BY event_type ORDER BY b) - 1 AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) - 1 AS m
        |  FROM bi),
        |mb AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN rk = m // 2 THEN (2 - (m - (m // 2) * 2)) * b
        |             WHEN rk = m // 2 + 1 THEN (m - (m // 2) * 2) * b
        |             ELSE 0 END) / 2.0 AS int2
        |  FROM rb GROUP BY 1)
        |SELECT nr.event_type, CAST(n AS BIGINT) AS n,
        |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
        |  round(slope2 / 1000000000.0, 6) AS slope,
        |  round(int2 / 1000000000.0, 6) AS intercept
        |FROM nr
        |LEFT JOIN np ON nr.event_type = np.event_type
        |LEFT JOIN ms ON nr.event_type = ms.event_type
        |LEFT JOIN mb ON nr.event_type = mb.event_type
        |ORDER BY nr.event_type""".stripMargin,
    "q_kendall" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type,
        |    CAST(round(day * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(cents * 1000000.0) AS BIGINT) AS y
        |  FROM d),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY x, y) AS i
        |  FROM v),
        |p AS (
        |  SELECT a.event_type,
        |    sign(b.x - a.x) * sign(b.y - a.y) AS s,
        |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
        |    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
        |  FROM r a JOIN r b ON a.event_type = b.event_type AND a.i < b.i),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n0, SUM(s) AS cd,
        |    SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS concordant,
        |    SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS discordant,
        |    SUM(tx) AS n1, SUM(ty) AS n2
        |  FROM p GROUP BY 1),
        |cnt AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1)
        |SELECT cnt.event_type, CAST(n AS BIGINT) AS n,
        |  CAST(coalesce(concordant, 0) AS BIGINT) AS concordant,
        |  CAST(coalesce(discordant, 0) AS BIGINT) AS discordant,
        |  CASE WHEN CAST(n0 - n1 AS DOUBLE) > 0.0 AND CAST(n0 - n2 AS DOUBLE) > 0.0
        |    THEN round(CAST(cd AS DOUBLE)
        |      / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 6)
        |  END AS tau_b
        |FROM cnt LEFT JOIN g ON cnt.event_type = g.event_type
        |ORDER BY cnt.event_type""".stripMargin,
    "q_concurrency" ->
      """WITH flagged AS (
        |  SELECT *,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |intervals AS (
        |  SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL 30 MINUTE AS s_end
        |  FROM sess GROUP BY user_id, sid),
        |ev AS (
        |  SELECT s_start AS t, 1 AS d FROM intervals WHERE s_end > s_start
        |  UNION ALL
        |  SELECT s_end, -1 FROM intervals WHERE s_end > s_start),
        |c AS (
        |  SELECT t, SUM(d) OVER (ORDER BY t, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ev)
        |SELECT CAST(cum AS BIGINT) AS max_concurrent,
        |  strftime(t, '%Y-%m-%d %H:%M:%S') AS at_ts
        |FROM c ORDER BY cum DESC, t LIMIT 1""".stripMargin,
    "q_ccf" -> ccfOracleSql(maxLag = 6),
    "q_runs_test" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |bv AS (SELECT event_type, x, COUNT(*) AS nv FROM v GROUP BY 1, 2),
        |cm AS (
        |  SELECT event_type, x,
        |    SUM(nv) OVER (PARTITION BY event_type ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(nv) OVER (PARTITION BY event_type) AS nn
        |  FROM bv),
        |md AS (SELECT event_type, MIN(x) AS med FROM cm
        |  WHERE cum * 2 >= nn GROUP BY 1),
        |sg AS (
        |  SELECT v.event_type AS event_type, v.day AS day,
        |    CASE WHEN v.x > md.med THEN 1 ELSE -1 END AS s
        |  FROM v JOIN md ON v.event_type = md.event_type
        |  WHERE v.x <> md.med),
        |rr AS (
        |  SELECT event_type, s,
        |    lag(s) OVER (PARTITION BY event_type ORDER BY day) AS p
        |  FROM sg),
        |ag AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n2,
        |    SUM(CASE WHEN p IS NULL OR p <> s THEN 1 ELSE 0 END) AS r
        |  FROM rr GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n_above,
        |  CAST(n2 AS BIGINT) AS n_below, CAST(r AS BIGINT) AS runs,
        |  CASE WHEN n1 > 0 AND n2 > 0
        |      AND 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |          - CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * (CAST(n AS DOUBLE) - 1.0)) > 0.0 THEN
        |    round((CAST(r AS DOUBLE)
        |        - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |          / CAST(n AS DOUBLE) + 1.0))
        |      / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |          - CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * (CAST(n AS DOUBLE) - 1.0))), 6) END AS z
        |FROM ag ORDER BY event_type""".stripMargin,
    "q_nw_se" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |w AS (
        |  SELECT event_type, x,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(x) OVER (PARTITION BY event_type) AS sm,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
        |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3,
        |    lag(x, 4) OVER (PARTITION BY event_type ORDER BY day) AS l4,
        |    lag(x, 5) OVER (PARTITION BY event_type ORDER BY day) AS l5,
        |    lag(x, 6) OVER (PARTITION BY event_type ORDER BY day) AS l6
        |  FROM v),
        |t AS (
        |  SELECT event_type, n, sm,
        |    CAST(n AS HUGEINT) * x - sm AS cx,
        |    CASE WHEN l1 IS NOT NULL THEN CAST(n AS HUGEINT) * l1 - sm END AS c1,
        |    CASE WHEN l2 IS NOT NULL THEN CAST(n AS HUGEINT) * l2 - sm END AS c2,
        |    CASE WHEN l3 IS NOT NULL THEN CAST(n AS HUGEINT) * l3 - sm END AS c3,
        |    CASE WHEN l4 IS NOT NULL THEN CAST(n AS HUGEINT) * l4 - sm END AS c4,
        |    CASE WHEN l5 IS NOT NULL THEN CAST(n AS HUGEINT) * l5 - sm END AS c5,
        |    CASE WHEN l6 IS NOT NULL THEN CAST(n AS HUGEINT) * l6 - sm END AS c6
        |  FROM w),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n, MAX(sm) AS sm,
        |    SUM(cx * cx) AS a0,
        |    SUM(CASE WHEN c1 IS NOT NULL THEN cx * c1 END) AS a1,
        |    SUM(CASE WHEN c2 IS NOT NULL THEN cx * c2 END) AS a2,
        |    SUM(CASE WHEN c3 IS NOT NULL THEN cx * c3 END) AS a3,
        |    SUM(CASE WHEN c4 IS NOT NULL THEN cx * c4 END) AS a4,
        |    SUM(CASE WHEN c5 IS NOT NULL THEN cx * c5 END) AS a5,
        |    SUM(CASE WHEN c6 IS NOT NULL THEN cx * c6 END) AS a6
        |  FROM t GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, sm, a0,
        |    COALESCE(CAST(a0 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g0,
        |    COALESCE(CAST(a1 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g1,
        |    COALESCE(CAST(a2 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g2,
        |    COALESCE(CAST(a3 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g3,
        |    COALESCE(CAST(a4 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g4,
        |    COALESCE(CAST(a5 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g5,
        |    COALESCE(CAST(a6 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g6
        |  FROM ag),
        |z AS (
        |  SELECT event_type, n, sm, a0,
        |    (g0 + 2.0 * ((1.0 - 1.0 / 7.0) * g1 + (1.0 - 2.0 / 7.0) * g2
        |      + (1.0 - 3.0 / 7.0) * g3 + (1.0 - 4.0 / 7.0) * g4
        |      + (1.0 - 5.0 / 7.0) * g5 + (1.0 - 6.0 / 7.0) * g6))
        |      / CAST(n AS DOUBLE) AS varnw
        |  FROM f)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean,
        |  CASE WHEN n >= 2 THEN
        |    round(sqrt(CAST(a0 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |      / CAST(n AS DOUBLE)) / 1000000.0, 6) END AS se_iid,
        |  CASE WHEN n > 6 AND varnw >= 0.0 THEN
        |    round(sqrt(varnw) / 1000000.0, 6) END AS se_nw
        |FROM z ORDER BY event_type""".stripMargin,
    "q_weibull" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS BIGINT) AS t,
        |    CASE WHEN max(epoch_us(ts)) < 1706486400000000 THEN 1 ELSE 0 END AS e
        |  FROM events GROUP BY user_id),
        |u AS (SELECT t FROM subj WHERE e = 1 AND t > 0),
        |c AS (SELECT t, COUNT(*) AS c FROM u GROUP BY 1),
        |cc AS (
        |  SELECT t, c,
        |    COALESCE(SUM(c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS f,
        |    SUM(c) OVER () AS nn
        |  FROM c),
        |rk AS (
        |  SELECT t, nn, f + i AS i
        |  FROM (SELECT t, nn, f, unnest(range(1, c + 1)) AS i FROM cc) q),
        |p AS (
        |  SELECT nn,
        |    CAST(round(ln(CAST(t AS DOUBLE)) * 1000000000.0) AS BIGINT) AS x,
        |    CAST(round(ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
        |      / (CAST(nn AS DOUBLE) + 0.4))) * 1000000000.0) AS BIGINT) AS y
        |  FROM rk),
        |ag AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx2,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy2,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy2
        |  FROM p),
        |f AS (
        |  SELECT n, CAST(n AS DOUBLE) AS m,
        |    CAST(sx AS DOUBLE) AS fsx, CAST(sy AS DOUBLE) AS fsy,
        |    CAST(sxx2 AS DOUBLE) AS fsxx, CAST(syy2 AS DOUBLE) AS fsyy,
        |    CAST(sxy2 AS DOUBLE) AS fsxy
        |  FROM ag),
        |g AS (
        |  SELECT n, m, fsx, fsy,
        |    m * fsxx - fsx * fsx AS sxx,
        |    m * fsyy - fsy * fsy AS syy,
        |    m * fsxy - fsx * fsy AS sxy
        |  FROM f),
        |h AS (
        |  SELECT n, m, sxx, syy, sxy, sxy / sxx AS shape,
        |    (fsy - sxy / sxx * fsx) / m / 1000000000.0 AS alpha
        |  FROM g)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 3 AND sxx > 0.0 THEN round(shape, 6) END AS shape,
        |  CASE WHEN n >= 3 AND sxx > 0.0 THEN
        |    round(exp(-alpha / shape), 6) END AS scale,
        |  CASE WHEN n >= 3 AND sxx > 0.0 AND syy > 0.0 THEN
        |    round(sxy / sxx * sxy / syy, 6) END AS r2
        |FROM h""".stripMargin,
    "q_kpss" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |w AS (
        |  SELECT event_type, x,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(x) OVER (PARTITION BY event_type) AS sm,
        |    SUM(CAST(x AS HUGEINT)) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
        |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3,
        |    lag(x, 4) OVER (PARTITION BY event_type ORDER BY day) AS l4,
        |    lag(x, 5) OVER (PARTITION BY event_type ORDER BY day) AS l5,
        |    lag(x, 6) OVER (PARTITION BY event_type ORDER BY day) AS l6
        |  FROM v),
        |tt AS (
        |  SELECT event_type, n,
        |    CAST(n AS HUGEINT) * p - CAST(t AS HUGEINT) * sm AS cs,
        |    CAST(n AS HUGEINT) * x - sm AS cx,
        |    CASE WHEN l1 IS NOT NULL THEN CAST(n AS HUGEINT) * l1 - sm END AS c1,
        |    CASE WHEN l2 IS NOT NULL THEN CAST(n AS HUGEINT) * l2 - sm END AS c2,
        |    CASE WHEN l3 IS NOT NULL THEN CAST(n AS HUGEINT) * l3 - sm END AS c3,
        |    CASE WHEN l4 IS NOT NULL THEN CAST(n AS HUGEINT) * l4 - sm END AS c4,
        |    CASE WHEN l5 IS NOT NULL THEN CAST(n AS HUGEINT) * l5 - sm END AS c5,
        |    CASE WHEN l6 IS NOT NULL THEN CAST(n AS HUGEINT) * l6 - sm END AS c6
        |  FROM w),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n,
        |    SUM(cs * cs) AS asq, SUM(cx * cx) AS a0,
        |    SUM(CASE WHEN c1 IS NOT NULL THEN cx * c1 END) AS a1,
        |    SUM(CASE WHEN c2 IS NOT NULL THEN cx * c2 END) AS a2,
        |    SUM(CASE WHEN c3 IS NOT NULL THEN cx * c3 END) AS a3,
        |    SUM(CASE WHEN c4 IS NOT NULL THEN cx * c4 END) AS a4,
        |    SUM(CASE WHEN c5 IS NOT NULL THEN cx * c5 END) AS a5,
        |    SUM(CASE WHEN c6 IS NOT NULL THEN cx * c6 END) AS a6
        |  FROM tt GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, asq,
        |    COALESCE(CAST(a0 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g0,
        |    COALESCE(CAST(a1 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g1,
        |    COALESCE(CAST(a2 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g2,
        |    COALESCE(CAST(a3 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g3,
        |    COALESCE(CAST(a4 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g4,
        |    COALESCE(CAST(a5 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g5,
        |    COALESCE(CAST(a6 AS DOUBLE), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS g6
        |  FROM ag),
        |z AS (
        |  SELECT event_type, n, asq,
        |    g0 + 2.0 * ((1.0 - 1.0 / 7.0) * g1 + (1.0 - 2.0 / 7.0) * g2
        |      + (1.0 - 3.0 / 7.0) * g3 + (1.0 - 4.0 / 7.0) * g4
        |      + (1.0 - 5.0 / 7.0) * g5 + (1.0 - 6.0 / 7.0) * g6) AS lrv
        |  FROM f)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(lrv / 1000000000000.0, 6) AS lrv,
        |  CASE WHEN n > 7 AND lrv > 0.0 THEN
        |    round(CAST(asq AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * CAST(n AS DOUBLE)) / lrv, 6) END AS kpss
        |FROM z ORDER BY event_type""".stripMargin,
    "q_adf" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |w AS (
        |  SELECT event_type, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS p
        |  FROM v),
        |r AS (
        |  SELECT event_type, CAST(p AS HUGEINT) AS y,
        |    CAST(x - p AS HUGEINT) AS dd
        |  FROM w WHERE p IS NOT NULL),
        |ag AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(y) AS sy, SUM(y * y) AS syy,
        |    SUM(dd) AS sd, SUM(dd * dd) AS sdd, SUM(y * dd) AS syd
        |  FROM r GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, CAST(n AS DOUBLE) AS m,
        |    CAST(sy AS DOUBLE) AS fsy, CAST(syy AS DOUBLE) AS fsyy,
        |    CAST(sd AS DOUBLE) AS fsd, CAST(sdd AS DOUBLE) AS fsdd,
        |    CAST(syd AS DOUBLE) AS fsyd
        |  FROM ag),
        |g AS (
        |  SELECT event_type, n, m, fsy, fsyy, fsd, fsdd, fsyd,
        |    m * fsyy - fsy * fsy AS sxx,
        |    (m * fsyd - fsy * fsd) / (m * fsyy - fsy * fsy) AS beta
        |  FROM f),
        |h AS (
        |  SELECT event_type, n, m, fsy, fsyy, fsd, fsdd, fsyd, sxx, beta,
        |    (fsd - beta * fsy) / m AS alpha
        |  FROM g),
        |i AS (
        |  SELECT event_type, n, m, sxx, beta,
        |    fsdd - 2.0 * alpha * fsd - 2.0 * beta * fsyd + m * alpha * alpha
        |      + beta * beta * fsyy + 2.0 * alpha * beta * fsy AS sse
        |  FROM h)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 3 AND sxx > 0.0 THEN round(beta, 6) END AS beta,
        |  CASE WHEN n >= 3 AND sxx > 0.0 AND sse / (m - 2.0) > 0.0 THEN
        |    round(beta / sqrt(sse / (m - 2.0) * m / sxx), 6) END AS t_df
        |FROM i ORDER BY event_type""".stripMargin,
    "q_var_ratio" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |w AS (
        |  SELECT event_type, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS p1,
        |    lag(x, 4) OVER (PARTITION BY event_type ORDER BY day) AS pq
        |  FROM v),
        |ag AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END) AS n,
        |    SUM(CASE WHEN p1 IS NOT NULL THEN CAST(x - p1 AS HUGEINT) END) AS sr,
        |    SUM(CASE WHEN p1 IS NOT NULL THEN
        |      CAST(x - p1 AS HUGEINT) * CAST(x - p1 AS HUGEINT) END) AS srr,
        |    SUM(CASE WHEN pq IS NOT NULL THEN 1 ELSE 0 END) AS tq,
        |    SUM(CASE WHEN pq IS NOT NULL THEN CAST(x - pq AS HUGEINT) END) AS sc,
        |    SUM(CASE WHEN pq IS NOT NULL THEN
        |      CAST(x - pq AS HUGEINT) * CAST(x - pq AS HUGEINT) END) AS scc
        |  FROM w GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, tq, CAST(n AS DOUBLE) AS t,
        |    CAST(tq AS DOUBLE) AS tqd,
        |    CAST(sr AS DOUBLE) AS fsr, CAST(srr AS DOUBLE) AS fsrr,
        |    CAST(sc AS DOUBLE) AS fsc, CAST(scc AS DOUBLE) AS fscc
        |  FROM ag),
        |g AS (
        |  SELECT event_type, n, tq, t,
        |    (fsrr - fsr * (fsr / t)) / t AS var1,
        |    (fscc - 2.0 * (4.0 * (fsr / t)) * fsc
        |      + tqd * (4.0 * (fsr / t)) * (4.0 * (fsr / t))) / (tqd * 4.0) AS varq
        |  FROM f)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN tq >= 2 AND var1 > 0.0 THEN round(varq / var1, 6) END AS vr,
        |  CASE WHEN tq >= 2 AND var1 > 0.0 THEN
        |    round(sqrt(t) * (varq / var1 - 1.0) / sqrt(3.5), 6) END AS z
        |FROM g ORDER BY event_type""".stripMargin,
    "q_seasonal_mk" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x,
        |    dayofweek(CAST(day AS DATE)) AS se
        |  FROM d),
        |i AS (
        |  SELECT event_type, se, x,
        |    row_number() OVER (PARTITION BY event_type, se ORDER BY day, x) AS i
        |  FROM v),
        |p AS (
        |  SELECT a.event_type AS event_type, a.se AS se,
        |    SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS ss
        |  FROM i a JOIN i b
        |    ON a.event_type = b.event_type AND a.se = b.se AND a.i < b.i
        |  GROUP BY 1, 2),
        |t1 AS (SELECT event_type, se, x, COUNT(*) AS t FROM i GROUP BY 1, 2, 3),
        |t2 AS (
        |  SELECT event_type, se, SUM(t) AS ns,
        |    SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tsum
        |  FROM t1 GROUP BY 1, 2),
        |ps AS (
        |  SELECT t2.event_type AS event_type, t2.ns AS ns,
        |    COALESCE(p.ss, 0) AS s,
        |    CAST(t2.ns AS HUGEINT) * (t2.ns - 1) * (2 * t2.ns + 5) - t2.tsum AS v18
        |  FROM t2 LEFT JOIN p
        |    ON t2.event_type = p.event_type AND t2.se = p.se),
        |ag AS (
        |  SELECT event_type, COUNT(*) AS nse, SUM(ns) AS n, SUM(s) AS sk,
        |    SUM(v18) AS v18
        |  FROM ps GROUP BY 1)
        |SELECT event_type, CAST(nse AS BIGINT) AS n_seasons, CAST(n AS BIGINT) AS n,
        |  CAST(sk AS BIGINT) AS s,
        |  CASE WHEN CAST(v18 AS DOUBLE) / 18.0 > 0.0 THEN
        |    round(CASE WHEN sk > 0 THEN
        |        (CAST(sk AS DOUBLE) - 1.0) / sqrt(CAST(v18 AS DOUBLE) / 18.0)
        |      WHEN sk < 0 THEN
        |        (CAST(sk AS DOUBLE) + 1.0) / sqrt(CAST(v18 AS DOUBLE) / 18.0)
        |      ELSE 0.0 END, 6) END AS z
        |FROM ag ORDER BY event_type""".stripMargin,
    "q_forecast_acc" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day, CAST(cents AS DOUBLE) / 100.0 AS amount FROM d),
        |wf AS (
        |  SELECT event_type, day, amount,
        |    lag(amount, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
        |  FROM v),
        |q AS (
        |  SELECT event_type, day,
        |    CAST(round(amount * 1000000.0) AS BIGINT) AS a,
        |    CAST(round(fc * 1000000.0) AS BIGINT) AS f
        |  FROM wf WHERE amount IS NOT NULL),
        |l AS (
        |  SELECT event_type, a, f,
        |    lag(a, 1) OVER (PARTITION BY event_type ORDER BY day) AS p
        |  FROM q),
        |ag AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN f IS NOT NULL THEN 1 ELSE 0 END) AS n,
        |    SUM(CASE WHEN f IS NOT NULL THEN CAST(abs(a - f) AS HUGEINT) END) AS ae,
        |    SUM(CASE WHEN f IS NOT NULL THEN
        |      CAST(a - f AS HUGEINT) * (a - f) END) AS se2,
        |    SUM(CASE WHEN f IS NOT NULL AND abs(a) + abs(f) > 0 THEN
        |      CAST(round(2.0 * CAST(abs(a - f) AS DOUBLE)
        |        / CAST(abs(a) + abs(f) AS DOUBLE) * 1000000000.0) AS BIGINT)
        |    END) AS sm,
        |    SUM(CASE WHEN f IS NOT NULL AND abs(a) + abs(f) > 0
        |      THEN 1 ELSE 0 END) AS nsm,
        |    SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS nn,
        |    SUM(CASE WHEN p IS NOT NULL THEN CAST(abs(a - p) AS HUGEINT) END) AS ad,
        |    SUM(CASE WHEN p IS NOT NULL THEN
        |      CAST(a - p AS HUGEINT) * (a - p) END) AS sd2
        |  FROM l GROUP BY 1),
        |f2 AS (
        |  SELECT event_type, n, nn, nsm, sm,
        |    CAST(ae AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mae,
        |    sqrt(CAST(se2 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 AS rmse,
        |    CAST(ad AS DOUBLE) / CAST(nn AS DOUBLE) / 1000000.0 AS maen,
        |    sqrt(CAST(sd2 AS DOUBLE) / CAST(nn AS DOUBLE)) / 1000000.0 AS rmsen
        |  FROM ag)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > 0 THEN round(mae, 6) END AS mae,
        |  CASE WHEN n > 0 THEN round(rmse, 6) END AS rmse,
        |  CASE WHEN nsm > 0 THEN
        |    round(CAST(sm AS DOUBLE) / 1000000000.0 / CAST(nsm AS DOUBLE), 6)
        |  END AS smape,
        |  CASE WHEN n > 0 AND nn > 0 AND maen > 0.0 THEN
        |    round(mae / maen, 6) END AS mase,
        |  CASE WHEN n > 0 AND nn > 0 AND rmsen > 0.0 THEN
        |    round(rmse / rmsen, 6) END AS theil_u2
        |FROM f2 ORDER BY event_type""".stripMargin,
    "q_turning_points" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |l AS (
        |  SELECT event_type, x,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY day) AS pv,
        |    lead(x) OVER (PARTITION BY event_type ORDER BY day) AS nx
        |  FROM v),
        |ag AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL
        |      AND ((x > pv AND x > nx) OR (x < pv AND x < nx))
        |      THEN 1 ELSE 0 END) AS t
        |  FROM l GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS n_turning,
        |  CASE WHEN n >= 3 THEN
        |    round((CAST(t AS DOUBLE) - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
        |      / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 6) END AS z
        |FROM ag ORDER BY event_type""".stripMargin,
    "q_page_hinkley" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day, CAST(cents AS DOUBLE) / 100.0 AS amount,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |w AS (
        |  SELECT event_type, day, amount, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |    SUM(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM v),
        |dv AS (
        |  SELECT event_type, day, amount,
        |    x * 1000 - CAST(round(CAST(s AS DOUBLE) * 1000.0
        |      / CAST(i AS DOUBLE)) AS BIGINT) - 10000000000 AS dev
        |  FROM w),
        |mw AS (
        |  SELECT event_type, day, amount,
        |    SUM(dev) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM dv),
        |r AS (
        |  SELECT event_type, day, amount, m,
        |    MIN(m) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
        |  FROM mw),
        |f AS (
        |  SELECT event_type, day, amount,
        |    round(CAST(m - LEAST(0, mn) AS DOUBLE) / 1000000000.0, 6) AS ph
        |  FROM r)
        |SELECT event_type, day, amount, ph, ph > 500.0 AS ph_alarm
        |FROM f ORDER BY event_type, day""".stripMargin,
    "q_cusum" ->
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, day, CAST(cents AS DOUBLE) / 100.0 AS amount,
        |    CAST(round((CAST(cents AS DOUBLE) / 100.0) * 1000000.0) AS BIGINT) AS x
        |  FROM d),
        |w AS (
        |  SELECT event_type, day, amount, x,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(x) OVER (PARTITION BY event_type) AS s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    SUM(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM v),
        |pp AS (
        |  SELECT event_type, day, amount, n,
        |    n * cum - t * s AS p_plus,
        |    t * s - n * cum AS p_minus
        |  FROM w),
        |r AS (
        |  SELECT event_type, day, amount, n, p_plus, p_minus,
        |    MIN(p_plus) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mp,
        |    MIN(p_minus) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mm
        |  FROM pp),
        |f AS (
        |  SELECT event_type, day, amount,
        |    round(CAST(p_plus - LEAST(0, mp) AS DOUBLE)
        |      / CAST(n AS DOUBLE) / 1000000.0, 6) AS cusum_plus,
        |    round(CAST(p_minus - LEAST(0, mm) AS DOUBLE)
        |      / CAST(n AS DOUBLE) / 1000000.0, 6) AS cusum_minus
        |  FROM r)
        |SELECT event_type, day, amount, cusum_plus, cusum_minus,
        |  (cusum_plus > 1000.0 OR cusum_minus > 1000.0) AS cusum_alarm
        |FROM f ORDER BY event_type, day""".stripMargin,
    "q_hazard" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS BIGINT) AS t,
        |    CASE WHEN max(epoch_us(ts)) < 1706486400000000 THEN 1 ELSE 0 END AS e
        |  FROM events GROUP BY user_id),
        |byt AS (
        |  SELECT t, SUM(e) AS n_event, COUNT(*) AS leave_n FROM subj GROUP BY 1),
        |w AS (
        |  SELECT t, n_event, leave_n - n_event AS n_censor,
        |    (SELECT SUM(leave_n) FROM byt)
        |      - COALESCE(SUM(leave_n) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt),
        |x AS (
        |  SELECT t, n_risk, n_event, n_censor,
        |    SUM(CASE WHEN n_event > 0
        |      THEN CAST(round(CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |        * 1000000000.0) AS BIGINT) ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch,
        |    SUM(CASE WHEN n_event > 0
        |      THEN CAST(round(CAST(n_event AS DOUBLE)
        |        / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))
        |        * 1000000000.0) AS BIGINT) ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
        |  FROM w)
        |SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(n_event AS BIGINT) AS n_event, CAST(n_censor AS BIGINT) AS n_censor,
        |  round(CAST(ch AS DOUBLE) / 1000000000.0, 6) AS hazard,
        |  round(sqrt(CAST(cv AS DOUBLE) / 1000000000.0), 6) AS hazard_se
        |FROM x ORDER BY t""".stripMargin,
    "q_aalen_johansen" ->
      """WITH u AS (
        |  SELECT user_id,
        |    min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc
        |  FROM events GROUP BY user_id),
        |subj AS (
        |  SELECT user_id,
        |    CAST(((CASE
        |        WHEN tp IS NOT NULL AND (tc IS NULL OR tp <= tc) THEN tp
        |        WHEN tc IS NOT NULL AND (tp IS NULL OR tc < tp) THEN tc
        |        ELSE t1 END) - t0) // 86400000000 AS BIGINT) AS t,
        |    CASE
        |      WHEN tp IS NOT NULL AND (tc IS NULL OR tp <= tc) THEN 1
        |      WHEN tc IS NOT NULL AND (tp IS NULL OR tc < tp) THEN 2
        |      ELSE 0 END AS c
        |  FROM u),
        |byt AS (
        |  SELECT t, SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS dtot,
        |    COUNT(*) AS leave_n
        |  FROM subj GROUP BY 1),
        |pc AS (
        |  SELECT t, c AS cause, COUNT(*) AS n_event
        |  FROM subj WHERE c > 0 GROUP BY 1, 2),
        |w AS (
        |  SELECT t, dtot,
        |    (SELECT SUM(leave_n) FROM byt)
        |      - COALESCE(SUM(leave_n) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt),
        |x AS (
        |  SELECT t, n_risk,
        |    COALESCE(SUM(CASE WHEN dtot > 0 AND dtot < n_risk
        |      THEN CAST(round(ln((CAST(n_risk AS DOUBLE) - CAST(dtot AS DOUBLE))
        |        / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT) ELSE 0 END)
        |      OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clnb,
        |    COALESCE(MAX(CASE WHEN dtot = n_risk AND dtot > 0 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS zerob
        |  FROM w),
        |inc AS (
        |  SELECT x.t, pc.cause, x.n_risk, pc.n_event,
        |    CAST(round((CASE WHEN zerob = 1 THEN 0.0
        |        ELSE exp(CAST(clnb AS DOUBLE) / 1e9) END)
        |      * (CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS term
        |  FROM x JOIN pc ON x.t = pc.t)
        |SELECT CAST(t AS BIGINT) AS t, CAST(cause AS BIGINT) AS cause,
        |  CAST(n_risk AS BIGINT) AS n_risk, CAST(n_event AS BIGINT) AS n_event,
        |  round(CAST(SUM(term) OVER (PARTITION BY cause ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e9, 6)
        |    AS cif
        |FROM inc ORDER BY t, cause""".stripMargin,
    "q_km" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS BIGINT) AS t,
        |    CASE WHEN max(epoch_us(ts)) < 1706486400000000 THEN 1 ELSE 0 END AS e
        |  FROM events GROUP BY user_id),
        |byt AS (
        |  SELECT t, SUM(e) AS n_event, COUNT(*) AS leave_n FROM subj GROUP BY 1),
        |w AS (
        |  SELECT t, n_event, leave_n - n_event AS n_censor,
        |    (SELECT SUM(leave_n) FROM byt)
        |      - COALESCE(SUM(leave_n) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt),
        |x AS (
        |  SELECT t, n_risk, n_event, n_censor,
        |    SUM(CASE WHEN n_event > 0 AND n_event < n_risk
        |      THEN CAST(round(ln((CAST(n_risk AS DOUBLE) - CAST(n_event AS DOUBLE))
        |        / CAST(n_risk AS DOUBLE)) * 1e9) AS BIGINT) ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ln,
        |    MAX(CASE WHEN n_event = n_risk AND n_event > 0 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeroed
        |  FROM w)
        |SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(n_event AS BIGINT) AS n_event, CAST(n_censor AS BIGINT) AS n_censor,
        |  CASE WHEN zeroed = 1 THEN 0.0
        |       ELSE round(exp(CAST(cum_ln AS DOUBLE) / 1e9), 6) END AS survival
        |FROM x ORDER BY t
        |""".stripMargin,
    "q_seasonal" ->
      """WITH b AS (
        |  SELECT event_type,
        |    (CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) + 4) % 7 AS bucket,
        |    CAST(round(value * 1e6) AS BIGINT) AS vm
        |  FROM events),
        |g AS (
        |  SELECT event_type, bucket, COUNT(*) AS n, SUM(vm) AS sm
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT event_type, SUM(sm) AS tsm, SUM(n) AS tn FROM g GROUP BY 1)
        |SELECT g.event_type, g.bucket, g.n,
        |  round(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS bucket_mean,
        |  round((CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(tsm AS DOUBLE) / CAST(tn AS DOUBLE)), 6) AS factor
        |FROM g JOIN t USING (event_type)
        |ORDER BY event_type, bucket
        |""".stripMargin,
    "q_ffill" ->
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'click' THEN NULL ELSE value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM events ORDER BY event_id""".stripMargin,
    "q_shifted_ffill" ->
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'click' THEN NULL ELSE value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id, year(ts - INTERVAL 1 MONTH) ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM events ORDER BY event_id""".stripMargin,
    "q_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT *,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, COUNT(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sliding" ->
      """SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT value, unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS win_start
        |  FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_session_window" ->
      """WITH flagged AS (
        |  SELECT *,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin,
    "q_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM seq
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "q_seq3" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS s1,
        |    lead(event_type, 1) OVER w AS s2,
        |    lead(event_type, 2) OVER w AS s3
        |  FROM events WHERE event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |win AS (
        |  SELECT user_id, s1 || '>' || s2 || '>' || s3 AS pattern
        |  FROM seq WHERE s3 IS NOT NULL),
        |c AS (
        |  SELECT pattern, COUNT(*) AS n_occurrences FROM win
        |  GROUP BY 1 HAVING COUNT(*) >= 5),
        |e AS (
        |  SELECT pattern, COUNT(DISTINCT user_id) AS n_entities FROM win
        |  WHERE pattern IN (SELECT pattern FROM c) GROUP BY 1)
        |SELECT c.pattern, c.n_occurrences, e.n_entities
        |FROM c JOIN e USING (pattern)
        |ORDER BY n_occurrences DESC, pattern""".stripMargin,
    "q_rolling_active" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS p
        |  FROM events),
        |mx AS (SELECT max(p) AS pm FROM a),
        |t AS (
        |  SELECT user_id, p + i AS tp
        |  FROM a CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i))
        |SELECT strftime(make_timestamp(tp * 86400000000), '%Y-%m-%d') AS day,
        |  count(DISTINCT user_id) AS n_active
        |FROM t, mx WHERE tp <= pm GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_conversion_lag" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS from_ts
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, f.from_ts, min(e.ts) AS to_ts
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase' AND f.from_ts IS NOT NULL
        |    AND e.ts >= f.from_ts
        |  GROUP BY e.user_id, f.from_ts)
        |SELECT user_id,
        |  strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS from_ts,
        |  strftime(to_ts, '%Y-%m-%d %H:%M:%S') AS to_ts,
        |  epoch_us(to_ts) - epoch_us(from_ts) AS lag_us
        |FROM c ORDER BY user_id""".stripMargin,
    "q_influence" ->
      """WITH d AS (
        |  SELECT event_type, (epoch_us(ts) // 86400000000) * 1000000 AS xq,
        |    SUM(CAST(round(value * 100) AS BIGINT)) * 1000000 AS yq
        |  FROM events GROUP BY event_type, epoch_us(ts) // 86400000000),
        |f AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
        |    SUM(CAST(xq AS HUGEINT) * xq) AS sxx, SUM(CAST(xq AS HUGEINT) * yq) AS sxy,
        |    SUM(CAST(yq AS HUGEINT) * yq) AS syy
        |  FROM d GROUP BY 1),
        |c AS (
        |  SELECT event_type,
        |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
        |    (CAST(sy AS DOUBLE)
        |      - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
        |    CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE) AS sxxc,
        |    CAST(n AS DOUBLE) AS nd,
        |    ((CAST(n * syy - sy * sy AS DOUBLE)
        |      - CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE)) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 2.0) AS s2
        |  FROM f
        |  WHERE n >= 4 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0),
        |e AS (
        |  SELECT d.event_type, d.xq,
        |    CAST(yq AS DOUBLE) - (a + b * CAST(xq AS DOUBLE)) AS ee,
        |    1.0 / nd + (CAST(xq AS DOUBLE) - xbar) * (CAST(xq AS DOUBLE) - xbar) / sxxc AS h,
        |    s2
        |  FROM d JOIN c USING (event_type)
        |  WHERE s2 > 0),
        |dd AS (
        |  SELECT event_type, xq, ee, h,
        |    ee * ee * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) AS cd,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY round(ee * ee * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 9) DESC, xq)
        |      AS rk
        |  FROM e)
        |SELECT event_type, CAST(xq AS DOUBLE) / 1000000.0 AS x,
        |  round(ee / 1000000.0, 6) AS resid, round(h, 6) AS leverage,
        |  round(cd, 6) AS cooks_d
        |FROM dd WHERE rk <= 3 ORDER BY event_type, x""".stripMargin,
    "q_hurst" ->
      """WITH hv AS (
        |  SELECT date_trunc('hour', ts) AS h,
        |    SUM(CAST(round(value * 100) AS BIGINT)) * 1000000 AS x
        |  FROM events GROUP BY 1),
        |idx AS (SELECT x, row_number() OVER (ORDER BY h) - 1 AS i FROM hv),
        |ex AS (
        |  SELECT i, x, m, i // m AS b
        |  FROM idx CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS m)),
        |cm AS (
        |  SELECT m, b, i, x,
        |    SUM(CAST(x AS HUGEINT)) OVER (PARTITION BY m, b ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref,
        |    row_number() OVER (PARTITION BY m, b ORDER BY i) AS k,
        |    SUM(CAST(x AS HUGEINT)) OVER (PARTITION BY m, b) AS sblk
        |  FROM ex),
        |mc AS (
        |  SELECT m, b, x,
        |    CAST(m AS HUGEINT) * pref - CAST(k AS HUGEINT) * sblk AS mc
        |  FROM cm),
        |pb AS (
        |  SELECT m, b, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
        |    SUM(CAST(x AS HUGEINT) * x) AS ss, MAX(mc) AS mxc, MIN(mc) AS mnc
        |  FROM mc GROUP BY 1, 2),
        |bl AS (
        |  SELECT m,
        |    CAST(round(ln(CAST(mxc - mnc AS DOUBLE)
        |      / sqrt(CAST(m * ss - s * s AS DOUBLE))) * 1000000000.0) AS BIGINT) AS lnrs
        |  FROM pb WHERE n = m AND CAST(m * ss - s * s AS DOUBLE) > 0),
        |ps AS (
        |  SELECT m, COUNT(*) AS nb,
        |    CAST(round(ln(CAST(m AS DOUBLE)) * 1000000000.0) AS BIGINT) AS lx,
        |    CAST(round((CAST(SUM(lnrs) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0)
        |      * 1000000000.0) AS BIGINT) AS ly
        |  FROM bl GROUP BY 1),
        |ft AS (
        |  SELECT COUNT(*) AS ns, SUM(nb) AS nblocks,
        |    SUM(CAST(lx AS HUGEINT)) AS sx, SUM(CAST(ly AS HUGEINT)) AS sy,
        |    SUM(CAST(lx AS HUGEINT) * lx) AS sxx, SUM(CAST(lx AS HUGEINT) * ly) AS sxy
        |  FROM ps)
        |SELECT CAST(ns AS BIGINT) AS n_sizes, CAST(nblocks AS BIGINT) AS n_blocks,
        |  CASE WHEN ns >= 2 AND CAST(ns * sxx - sx * sx AS DOUBLE) > 0 THEN
        |    round(CAST(ns * sxy - sx * sy AS DOUBLE)
        |        / CAST(ns * sxx - sx * sx AS DOUBLE), 6) END AS hurst
        |FROM ft""".stripMargin,
    "q_arch" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS t,
        |    SUM(CAST(round(value * 100) AS BIGINT)) * 1000000 AS y
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(t AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(t AS HUGEINT) * t) AS sxx, SUM(CAST(t AS HUGEINT) * y) AS sxy
        |  FROM d GROUP BY 1),
        |c AS (
        |  SELECT event_type,
        |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
        |    (CAST(sy AS DOUBLE)
        |      - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
        |  FROM f),
        |e AS (
        |  SELECT d.event_type, d.t,
        |    CAST(round((CAST(y AS DOUBLE) - (a + b * CAST(t AS DOUBLE)))
        |      / 1000000.0) AS BIGINT) AS ee
        |  FROM d JOIN c USING (event_type)),
        |l AS (
        |  SELECT event_type, ee * ee AS w,
        |    lag(ee * ee) OVER (PARTITION BY event_type ORDER BY t) AS w1
        |  FROM e),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(w1 AS HUGEINT)) AS wx, SUM(CAST(w AS HUGEINT)) AS wy,
        |    SUM(CAST(w1 AS HUGEINT) * w1) AS wxx, SUM(CAST(w AS HUGEINT) * w) AS wyy,
        |    SUM(CAST(w AS HUGEINT) * w1) AS wxy
        |  FROM l WHERE w1 IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
        |  CASE WHEN n >= 3 AND CAST(n * wxx - wx * wx AS DOUBLE) > 0
        |      AND CAST(n * wyy - wy * wy AS DOUBLE) > 0 THEN
        |    round(CAST(n * wxy - wx * wy AS DOUBLE) / CAST(n * wxx - wx * wx AS DOUBLE)
        |        * CAST(n * wxy - wx * wy AS DOUBLE) / CAST(n * wyy - wy * wy AS DOUBLE), 6)
        |  END AS r2,
        |  CASE WHEN n >= 3 AND CAST(n * wxx - wx * wx AS DOUBLE) > 0
        |      AND CAST(n * wyy - wy * wy AS DOUBLE) > 0 THEN
        |    round(CAST(n AS DOUBLE)
        |      * (CAST(n * wxy - wx * wy AS DOUBLE) / CAST(n * wxx - wx * wx AS DOUBLE)
        |         * CAST(n * wxy - wx * wy AS DOUBLE) / CAST(n * wyy - wy * wy AS DOUBLE)), 6)
        |  END AS lm
        |FROM g ORDER BY event_type""".stripMargin,
    "q_chow" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) * 1000000 AS cents
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN day < 19738 THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN day < 19738 THEN CAST(day AS HUGEINT) END) AS sx1,
        |    SUM(CASE WHEN day < 19738 THEN CAST(cents AS HUGEINT) END) AS sy1,
        |    SUM(CASE WHEN day < 19738 THEN CAST(day AS HUGEINT) * day END) AS sxx1,
        |    SUM(CASE WHEN day < 19738 THEN CAST(day AS HUGEINT) * cents END) AS sxy1,
        |    SUM(CASE WHEN day < 19738 THEN CAST(cents AS HUGEINT) * cents END) AS syy1,
        |    SUM(CASE WHEN day >= 19738 THEN 1 ELSE 0 END) AS n2,
        |    SUM(CASE WHEN day >= 19738 THEN CAST(day AS HUGEINT) END) AS sx2,
        |    SUM(CASE WHEN day >= 19738 THEN CAST(cents AS HUGEINT) END) AS sy2,
        |    SUM(CASE WHEN day >= 19738 THEN CAST(day AS HUGEINT) * day END) AS sxx2,
        |    SUM(CASE WHEN day >= 19738 THEN CAST(day AS HUGEINT) * cents END) AS sxy2,
        |    SUM(CASE WHEN day >= 19738 THEN CAST(cents AS HUGEINT) * cents END) AS syy2
        |  FROM d GROUP BY 1),
        |m AS (
        |  SELECT event_type, n1, n2,
        |    CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE) AS mxx1,
        |    CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE) AS mxy1,
        |    CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE) AS myy1,
        |    CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE) AS mxx2,
        |    CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE) AS mxy2,
        |    CAST(n2 * syy2 - sy2 * sy2 AS DOUBLE) AS myy2,
        |    CAST((n1 + n2) * (sxx1 + sxx2) - (sx1 + sx2) * (sx1 + sx2) AS DOUBLE) AS mxxp,
        |    CAST((n1 + n2) * (sxy1 + sxy2) - (sx1 + sx2) * (sy1 + sy2) AS DOUBLE) AS mxyp,
        |    CAST((n1 + n2) * (syy1 + syy2) - (sy1 + sy2) * (sy1 + sy2) AS DOUBLE) AS myyp
        |  FROM a),
        |z AS (
        |  SELECT event_type, n1, n2, mxx1, mxx2, mxxp,
        |    (myy1 - mxy1 * mxy1 / mxx1) / CAST(n1 AS DOUBLE) AS rss1,
        |    (myy2 - mxy2 * mxy2 / mxx2) / CAST(n2 AS DOUBLE) AS rss2,
        |    (myyp - mxyp * mxyp / mxxp) / CAST(n1 + n2 AS DOUBLE) AS rssp,
        |    mxy1 / mxx1 AS s1, mxy2 / mxx2 AS s2
        |  FROM m)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CASE WHEN n1 >= 2 AND mxx1 > 0 THEN round(s1 / 1000000.0, 6) END AS slope1,
        |  CASE WHEN n2 >= 2 AND mxx2 > 0 THEN round(s2 / 1000000.0, 6) END AS slope2,
        |  CASE WHEN n1 >= 3 AND n2 >= 3 AND mxx1 > 0 AND mxx2 > 0 AND mxxp > 0
        |      AND rss1 + rss2 > 0 THEN
        |    round(((rssp - rss1 - rss2) / 2.0)
        |        / ((rss1 + rss2) / (CAST(n1 + n2 AS DOUBLE) - 4.0)), 6) END AS f
        |FROM z ORDER BY event_type""".stripMargin,
    "q_stationary" -> stationaryOracleSql(8, 1000L),
    "q_entropy_rate" -> entropyRateOracleSql(8, 1000L),
    "q_pass_at_k" ->
      """WITH pt AS (
        |  SELECT user_id AS t, COUNT(*) AS n,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |k1 AS (
        |  SELECT 1 AS k,
        |    SUM(CASE WHEN n >= 1 THEN 1 ELSE 0 END) AS n_tasks,
        |    SUM(CASE WHEN n < 1 THEN 1 ELSE 0 END) AS n_skipped,
        |    SUM(CASE WHEN n >= 1 THEN CAST(round((1.0 - greatest(
        |      (CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 0.0)
        |        / (CAST(n AS DOUBLE) - 0.0), 0.0))
        |      * 1000000000.0) AS HUGEINT) END) AS ps
        |  FROM pt),
        |k3 AS (
        |  SELECT 3 AS k,
        |    SUM(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS n_tasks,
        |    SUM(CASE WHEN n < 3 THEN 1 ELSE 0 END) AS n_skipped,
        |    SUM(CASE WHEN n >= 3 THEN CAST(round((1.0 - greatest(
        |      (CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 0.0)
        |        / (CAST(n AS DOUBLE) - 0.0)
        |      * ((CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 1.0)
        |        / (CAST(n AS DOUBLE) - 1.0))
        |      * ((CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 2.0)
        |        / (CAST(n AS DOUBLE) - 2.0)), 0.0))
        |      * 1000000000.0) AS HUGEINT) END) AS ps
        |  FROM pt),
        |k5 AS (
        |  SELECT 5 AS k,
        |    SUM(CASE WHEN n >= 5 THEN 1 ELSE 0 END) AS n_tasks,
        |    SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS n_skipped,
        |    SUM(CASE WHEN n >= 5 THEN CAST(round((1.0 - greatest(
        |      (CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 0.0)
        |        / (CAST(n AS DOUBLE) - 0.0)
        |      * ((CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 1.0)
        |        / (CAST(n AS DOUBLE) - 1.0))
        |      * ((CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 2.0)
        |        / (CAST(n AS DOUBLE) - 2.0))
        |      * ((CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 3.0)
        |        / (CAST(n AS DOUBLE) - 3.0))
        |      * ((CAST(n AS DOUBLE) - CAST(c AS DOUBLE) - 4.0)
        |        / (CAST(n AS DOUBLE) - 4.0)), 0.0))
        |      * 1000000000.0) AS HUGEINT) END) AS ps
        |  FROM pt),
        |al AS (SELECT * FROM k1 UNION ALL SELECT * FROM k3 UNION ALL SELECT * FROM k5)
        |SELECT k, CAST(n_tasks AS BIGINT) AS n_tasks,
        |  CAST(n_skipped AS BIGINT) AS n_skipped,
        |  CASE WHEN n_tasks > 0 THEN
        |    round(CAST(ps AS DOUBLE) / 1000000000.0 / CAST(n_tasks AS DOUBLE), 6)
        |  END AS pass_at_k
        |FROM al ORDER BY k""".stripMargin,
    "q_granger" ->
      """WITH hv AS (
        |  SELECT date_trunc('hour', ts) AS h,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS px,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS cx
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT px AS y, lag(px) OVER (ORDER BY h) AS y1,
        |    lag(cx) OVER (ORDER BY h) AS x1
        |  FROM hv),
        |ff AS (SELECT * FROM l
        |  WHERE y IS NOT NULL AND y1 IS NOT NULL AND x1 IS NOT NULL),
        |a AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(y1 AS HUGEINT)) AS sa,
        |    SUM(CAST(x1 AS HUGEINT)) AS sb,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy, SUM(CAST(y1 AS HUGEINT) * y1) AS saa,
        |    SUM(CAST(x1 AS HUGEINT) * x1) AS sbb, SUM(CAST(y AS HUGEINT) * y1) AS sya,
        |    SUM(CAST(y AS HUGEINT) * x1) AS syb, SUM(CAST(y1 AS HUGEINT) * x1) AS sab
        |  FROM ff),
        |m AS (
        |  SELECT n,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS myy,
        |    CAST(n * saa - sa * sa AS DOUBLE) AS m11,
        |    CAST(n * sbb - sb * sb AS DOUBLE) AS m22,
        |    CAST(n * sab - sa * sb AS DOUBLE) AS m12,
        |    CAST(n * sya - sy * sa AS DOUBLE) AS my1,
        |    CAST(n * syb - sy * sb AS DOUBLE) AS my2
        |  FROM a),
        |z AS (
        |  SELECT n, m11, m11 * m22 - m12 * m12 AS det,
        |    (my1 * m22 - my2 * m12) / (m11 * m22 - m12 * m12) AS b,
        |    (my2 * m11 - my1 * m12) / (m11 * m22 - m12 * m12) AS c,
        |    myy - ((my1 * m22 - my2 * m12) / (m11 * m22 - m12 * m12)) * my1
        |        - ((my2 * m11 - my1 * m12) / (m11 * m22 - m12 * m12)) * my2 AS rssu,
        |    myy - my1 * my1 / m11 AS rssr
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 4 AND m11 > 0 AND det > 0 THEN round(b, 6) END AS b_y1,
        |  CASE WHEN n >= 4 AND m11 > 0 AND det > 0 THEN round(c, 6) END AS b_x1,
        |  CASE WHEN n >= 4 AND m11 > 0 AND det > 0 AND rssu > 0
        |    THEN round((rssr - rssu) * (CAST(n AS DOUBLE) - 3.0) / rssu, 6) END AS f
        |FROM z WHERE n > 0""".stripMargin,
    "q_croston" ->
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |nz AS (SELECT * FROM d WHERE cents IS NOT NULL AND cents <> 0),
        |iv AS (
        |  SELECT user_id, day, cents,
        |    day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS ivl
        |  FROM nz),
        |f AS (SELECT * FROM iv WHERE ivl IS NOT NULL),
        |tr AS (
        |  SELECT user_id, day, cents, ivl FROM (
        |    SELECT f.*, row_number()
        |      OVER (PARTITION BY user_id ORDER BY day DESC) AS rd
        |    FROM f) WHERE rd <= 32),
        |i AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY user_id ORDER BY day) - 1 AS t
        |  FROM tr),
        |s AS (
        |  SELECT *,
        |    sum(cents * (1::BIGINT << t))
        |      OVER (PARTITION BY user_id ORDER BY t) AS swz,
        |    sum(ivl * (1::BIGINT << t))
        |      OVER (PARTITION BY user_id ORDER BY t) AS swp
        |  FROM i),
        |l AS (
        |  SELECT user_id, t, swz, swp,
        |    count(*) OVER (PARTITION BY user_id) AS n_points,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
        |  FROM s)
        |SELECT user_id, CAST(n_points AS BIGINT) AS n_points,
        |  round(CAST(swz AS DOUBLE) / CAST((1::BIGINT << (t + 1)) - 1 AS DOUBLE), 6) AS z_hat,
        |  round(CAST(swp AS DOUBLE) / CAST((1::BIGINT << (t + 1)) - 1 AS DOUBLE), 6) AS p_hat,
        |  CASE WHEN CAST(swp AS DOUBLE) / CAST((1::BIGINT << (t + 1)) - 1 AS DOUBLE) > 0 THEN
        |    round((CAST(swz AS DOUBLE) / CAST((1::BIGINT << (t + 1)) - 1 AS DOUBLE))
        |        / (CAST(swp AS DOUBLE) / CAST((1::BIGINT << (t + 1)) - 1 AS DOUBLE)), 6)
        |  END AS forecast
        |FROM l WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_capture" ->
      """WITH f AS (
        |  SELECT user_id,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
        |      THEN 1 ELSE 0 END AS a,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) <= '7'
        |      THEN 1 ELSE 0 END AS b
        |  FROM events WHERE user_id IS NOT NULL),
        |p AS (SELECT user_id, MAX(a) AS ia, MAX(b) AS ib FROM f GROUP BY 1),
        |g AS (SELECT SUM(ia) AS n_a, SUM(ib) AS n_b, SUM(ia * ib) AS n_both FROM p)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  round((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |      / (CAST(n_both AS DOUBLE) + 1.0) - 1.0, 6) AS n_hat,
        |  round(sqrt((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |      * (CAST(n_a AS DOUBLE) - CAST(n_both AS DOUBLE))
        |      * (CAST(n_b AS DOUBLE) - CAST(n_both AS DOUBLE))
        |      / ((CAST(n_both AS DOUBLE) + 1.0) * (CAST(n_both AS DOUBLE) + 1.0)
        |         * (CAST(n_both AS DOUBLE) + 2.0))), 6) AS se
        |FROM g""".stripMargin,
    "q_ewma" ->
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |i AS (
        |  SELECT user_id, day, cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) - 1 AS t
        |  FROM d),
        |s AS (
        |  SELECT user_id, day, cents, t,
        |    sum(cents * (1::BIGINT << t))
        |      OVER (PARTITION BY user_id ORDER BY t) AS sw
        |  FROM i)
        |SELECT user_id,
        |  strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS day,
        |  cents,
        |  CAST(sw AS DOUBLE) /
        |    CAST((1::BIGINT << (t + 1)) - 1 AS DOUBLE) AS ewma
        |FROM s ORDER BY user_id, day""".stripMargin,
    "q_rolling_hll" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_rolling" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rsum
        |FROM events ORDER BY event_id""".stripMargin,
    "q_funnel" ->
      // independent formulation: iterated first-match-after-(ts,id) via
      // row_number windows — must agree with the Spark greedy fold
      """WITH e AS (
        |  SELECT user_id, ts, event_id, event_type FROM events),
        |s1 AS (
        |  SELECT user_id, ts AS t1, event_id AS i1 FROM (
        |    SELECT user_id, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM e WHERE event_type = 'view') WHERE rn = 1),
        |s2 AS (
        |  SELECT user_id, ts AS t2, event_id AS i2 FROM (
        |    SELECT e.user_id, e.ts, e.event_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM e JOIN s1 USING (user_id)
        |    WHERE e.event_type = 'click' AND (e.ts, e.event_id) > (s1.t1, s1.i1))
        |  WHERE rn = 1),
        |s3 AS (
        |  SELECT user_id FROM (
        |    SELECT e.user_id,
        |      row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
        |    FROM e JOIN s2 USING (user_id)
        |    WHERE e.event_type = 'purchase' AND (e.ts, e.event_id) > (s2.t2, s2.i2))
        |  WHERE rn = 1),
        |ms AS (
        |  SELECT u.user_id,
        |    CASE WHEN s3.user_id IS NOT NULL THEN 3
        |         WHEN s2.user_id IS NOT NULL THEN 2
        |         WHEN s1.user_id IS NOT NULL THEN 1
        |         ELSE 0 END AS max_step
        |  FROM (SELECT DISTINCT user_id FROM e) u
        |  LEFT JOIN s1 USING (user_id)
        |  LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id))
        |SELECT v.i AS step, COUNT(*) AS n_users
        |FROM ms JOIN (VALUES (1), (2), (3)) v(i) ON ms.max_step >= v.i
        |GROUP BY v.i ORDER BY step""".stripMargin,
    "q_retention" ->
      """WITH b AS (
        |  SELECT user_id,
        |    make_timestamp((epoch_us(ts) // 604800000000) * 604800000000) AS bucket
        |  FROM events),
        |c AS (SELECT user_id, min(bucket) AS cohort FROM b GROUP BY user_id)
        |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
        |  CAST((epoch_us(b.bucket) - epoch_us(c.cohort)) // 604800000000 AS BIGINT) AS period,
        |  COUNT(DISTINCT b.user_id) AS n_active
        |FROM b JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_cooccur" ->
      """WITH items AS (SELECT DISTINCT user_id, event_type FROM events),
        |m AS (SELECT event_type, count(*) AS n FROM items GROUP BY 1),
        |ne AS (SELECT count(DISTINCT user_id) AS n_entities FROM items),
        |p AS (
        |  SELECT a.event_type AS item_a, b.event_type AS item_b, count(*) AS n_ab
        |  FROM items a JOIN items b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, n_ab, ma.n AS n_a, mb.n AS n_b,
        |  (CAST(n_ab AS DOUBLE) * CAST(n_entities AS DOUBLE)) /
        |    (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)) AS lift
        |FROM p JOIN m ma ON p.item_a = ma.event_type
        |       JOIN m mb ON p.item_b = mb.event_type, ne
        |ORDER BY item_a, item_b""".stripMargin,
    "q_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM d),
        |s AS (SELECT user_id, island, count(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(sum(len) AS BIGINT) AS n_active_periods
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_resample" ->
      """WITH e AS (
        |  SELECT user_id,
        |    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS b, value
        |  FROM events WHERE user_id < 3),
        |obs AS (
        |  SELECT user_id, b,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |  FROM e GROUP BY user_id, b),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(b), max(b), INTERVAL 1 HOUR)) AS b
        |  FROM e GROUP BY user_id)
        |SELECT g.user_id, strftime(g.b, '%Y-%m-%d %H:%M:%S') AS bucket,
        |  last_value(o.sv IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value,
        |  o.sv IS NULL AS is_gap
        |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b
        |ORDER BY g.user_id, bucket""".stripMargin,
  )
}
