package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-sequence (funnel) analysis over an event stream: how far each
  * entity progressed through a fixed sequence of step types, matching
  * greedily in event-time order.
  *
  * Not in the reference; engine extension (SURVEY §2.11) — the batch
  * sibling of the sessionization surface in
  * [[graft.streaming.Streaming]].
  *
  * Scale design: ONE hash shuffle (the per-entity aggregation); the scan
  * is a per-row array fold over that entity's events, so state is
  * O(events per entity) — the same bound sessionization already assumes.
  * No joins, no per-step passes: a k-step funnel costs the same shuffle
  * as a 1-step funnel.
  */
object Funnel {

  /** Per-entity furthest step reached.
    *
    * Events are ordered by (`tsCol`, `tieCol`) within each entity and
    * scanned once: step i+1 can only match strictly after the event that
    * matched step i. Returns `(entityCol, max_step)` with `max_step` in
    * `[0, steps.length]`; 0 means the first step never occurred.
    */
  def maxStepReached(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      tieCol: String,
      typeCol: String,
      steps: Seq[String],
  ): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    val stepArr = array(steps.map(lit(_)): _*)
    events.groupBy(col(entityCol))
      .agg(collect_list(struct(col(tsCol).as("ts"), col(tieCol).as("tie"),
        col(typeCol).as("et"))).as("__evs"))
      .select(col(entityCol),
        aggregate(array_sort(col("__evs")), lit(0), (step, e) =>
          // try_element_at: 1-based; null (≠ et) once the funnel completes
          when(e.getField("et") === try_element_at(stepArr, step + 1), step + 1)
            .otherwise(step))
          .as("max_step"))
  }

  /** Classic funnel table: how many entities reached step ≥ i, for each
    * step i in 1..k. Composes [[maxStepReached]]; entities that never
    * matched step 1 contribute to no row.
    */
  def funnelCounts(
      events: DataFrame,
      entityCol: String,
      tsCol: String,
      tieCol: String,
      typeCol: String,
      steps: Seq[String],
  ): DataFrame =
    maxStepReached(events, entityCol, tsCol, tieCol, typeCol, steps)
      .filter(col("max_step") >= 1)
      .select(explode(sequence(lit(1), col("max_step"))).as("step"))
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_users"))

  /** Cohort retention matrix: entities are cohorted by the period of
    * their FIRST event, and each (cohort, period-offset) cell counts the
    * distinct entities from that cohort active in that period —
    * `offset = 0` is the cohort size itself.
    *
    * Shape: one aggregation per entity finds the cohort (min event
    * time); the (entity → cohort) table is entity-sized (not broadcast
    * material), so both sides hash-shuffle on the entity and join
    * co-partitioned; the distinct count then exchanges once more on its
    * own (cohort, offset) keys. Three exchanges, each on the natural
    * clustering of its stage — no per-period passes, no self-joins.
    *
    * @param periodSeconds cohort/activity bucket width (e.g. 7 days)
    * @return (cohort_ts, period, n_active) — `period` counts buckets
    *         since the cohort bucket
    */
  def retentionMatrix(events: DataFrame, entityCol: String, tsCol: String,
                      periodSeconds: Long): DataFrame = {
    require(periodSeconds > 0, s"periodSeconds must be positive: $periodSeconds")
    Guards.requireNoReservedNames(events,
      Seq("cohort_ts", "period", "n_active", "__bucket"), "retentionMatrix")
    val bucket = Timeseries.timeBucket(col(tsCol), periodSeconds)
    val cohorts = events.groupBy(col(entityCol))
      .agg(min(bucket).as("cohort_ts"))
    events.select(col(entityCol), bucket.as("__bucket"))
      .join(cohorts, Seq(entityCol))
      .groupBy(col("cohort_ts"),
        ((unix_micros(col("__bucket")) - unix_micros(col("cohort_ts"))) /
          (periodSeconds * 1000000L)).cast("long").as("period"))
      .agg(countDistinct(col(entityCol)).as("n_active"))
  }

  /** Activity streaks (gaps-and-islands): per entity, the longest run of
    * CONSECUTIVE active periods and the total active-period count — the
    * classic engagement metric, one distinct + one window + one
    * aggregation, all hash-partitioned on the entity (no self-joins, no
    * per-day passes).
    *
    * Periods are `periodSeconds` buckets of event time; the island key
    * is `period_index − row_number` (consecutive periods share it).
    */
  def activityStreaks(events: DataFrame, entityCol: String, tsCol: String,
                      periodSeconds: Long = 86400L): DataFrame = {
    require(periodSeconds > 0, s"periodSeconds must be positive: $periodSeconds")
    Guards.requireNoReservedNames(events,
      Seq("longest_streak", "n_active_periods", "__day", "__island", "__len"),
      "activityStreaks")
    val day = floor(unix_micros(col(tsCol)) / (periodSeconds * 1000000L)).cast("long")
    val periods = events.select(col(entityCol), day.as("__day")).distinct()
    val w = Window.partitionBy(col(entityCol)).orderBy(col("__day"))
    periods
      .withColumn("__island", col("__day") - row_number().over(w))
      .groupBy(col(entityCol), col("__island"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col(entityCol))
      .agg(max(col("__len")).as("longest_streak"),
        sum(col("__len")).as("n_active_periods"))
  }

  /** Markov transition matrix over per-entity event sequences: for every
    * ordered `(from_type, to_type)` pair of CONSECUTIVE events (within an
    * entity, in `(tsCol, tieCol)` order), the transition count and the
    * row-normalized probability — the journey-analytics view of a stream
    * (where do users go after a `view`?), and the state-transition input
    * to any sequence model.
    *
    * Shape: ONE hash shuffle on the entity feeds the `lead` window; the
    * pair aggregation map-side combines down to (|types|², count) rows
    * before its exchange, and the per-`from` total rides a window over
    * that tiny table. `p` is one long→double division (each cast and the
    * divide are single correctly-rounded IEEE ops — bit-deterministic on
    * any engine; see [[graft.ops.Frequency]] for the same convention).
    *
    * @return (from_type, to_type, n, p) — p = n / Σ_to n
    */
  def transitionMatrix(events: DataFrame, entityCol: String, tsCol: String,
                       tieCol: String, typeCol: String): DataFrame = {
    Guards.requireNoReservedNames(events,
      Seq("from_type", "to_type", "n", "p", "__next"), "transitionMatrix")
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val counts = events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    counts.withColumn("p",
      col("n").cast("double") / sum(col("n")).over(wf).cast("double"))
  }

  /** Stationary distribution of the empirical transition chain — where
    * [[transitionMatrix]] reports one-step probabilities, this reports
    * the long-run occupancy ("if users keep behaving like this, what
    * fraction of steps land in each state?"): power iteration of
    * π' = πP in EXACT integer arithmetic (the
    * [[graft.ops.Graph.pageRank]] convention — occupancy lives in
    * integer `unit`-ths, every division a truncating `div`, so the
    * iteration hash-matches an unrolled CTE chain bit-for-bit; float
    * iteration never does):
    *
    *   π'(t) = Σ_s (π(s) div out(s)) · n(s,t)
    *
    * States with no outgoing transitions hold their mass (the data's
    * last-observed states are absorbing by construction; stated, not
    * hidden). Truncation drains a few units per iteration rather than
    * redistributing — the standard simple variant.
    *
    * Convergence contract (the GK/TPD discipline): with `tolUnits > 0`
    * the sweep stops once max_s |Δπ(s)| < tolUnits, and `iters_run`
    * reports the data-dependent round count so the published number
    * carries its own convergence provenance; `tolUnits = 0` always pays
    * `iterations`. The check is exact-integer, so it evaluates
    * identically in any engine — an oracle replays it round-for-round
    * by carrying the converged vector through its remaining unrolled
    * CTEs.
    *
    * Scale shape: ONE distributed (entity-sequenced) counting pass of
    * [[transitionMatrix]]; the (from, to) count table is bounded by
    * distinct-type² (never data-sized), so it collects under the
    * bounded-driver-state contract (the k-means-centers / GK
    * level-vector discipline) — r12 hardens the contract into a
    * `require`: a distributed distinct-state count runs before the
    * collect and fails above `maxStates` — and the power iteration runs as exact
    * Long arithmetic on the driver — zero per-sweep Spark jobs, and
    * the convergence check is free. No intermediate exceeds `unit`:
    * (π div out)·n ≤ π and the inflow sum is ≤ Σπ = unit.
    *
    * @return (state, pi_units, pi, iters_run) — integer `unit`-ths,
    *         the 6-dp share, and the sweep count actually run
    */
  def stationaryDistribution(events: DataFrame, entityCol: String, tsCol: String,
                             tieCol: String, typeCol: String,
                             iterations: Int, unit: Long = 1000000000000L,
                             tolUnits: Long = 0L,
                             maxStates: Int = 10000): DataFrame = {
    require(iterations >= 1 && iterations <= 32, s"iterations out of range: $iterations")
    require(tolUnits >= 0L, s"tolUnits must be non-negative: $tolUnits")
    require(maxStates >= 2, s"maxStates must be >= 2: $maxStates")
    val spark = events.sparkSession
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val cells = events
      .select(col(typeCol).cast("string").as("from_type"),
        lead(col(typeCol), 1).over(w).cast("string").as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hard bounded-panel contract (r12): the transition table is
    // states²-bounded; count the state domain distributed BEFORE the
    // collect so a raw-id typeCol fails with a contract error, not an OOM
    val counts: Array[(String, String, Long)] = Observe.releasing(cells) {
      val nStates = Observe.rowCount(cells.select(col("from_type").as("__s"))
        .union(cells.select(col("to_type"))).distinct())
      require(nStates <= maxStates.toLong,
        s"stationaryDistribution materializes a states²-bounded transition " +
          s"table on the driver; got $nStates distinct states (cap " +
          s"$maxStates). The state column must be a bounded vocabulary " +
          s"(event types, pages, statuses) — not raw entity ids.")
      cells.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
    val states = (counts.map(_._1) ++ counts.map(_._2)).distinct.sorted.toSeq
    val outs: Map[String, Long] =
      counts.groupBy(_._1).map { case (s, cs) => s -> cs.map(_._3).sum }
    val kCount = math.max(states.length, 1)
    val (pi, sweeps) = Observe.iterate("stationaryDistribution",
        states.map(s => s -> unit / kCount).toMap, iterations) { pi =>
      val inflow = scala.collection.mutable.Map.empty[String, Long]
      counts.foreach { case (s, t2, n) =>
        // truncating div on non-negative longs — the SQL `//` replays it
        inflow(t2) = inflow.getOrElse(t2, 0L) + (pi(s) / outs(s)) * n
      }
      states.map { s =>
        val held = if (outs.contains(s)) 0L else pi(s) // absorbing
        s -> (inflow.getOrElse(s, 0L) + held)
      }.toMap
    }((prev, next) => tolUnits > 0L &&
      states.foldLeft(0L)((m, s) => math.max(m, math.abs(next(s) - prev(s)))) < tolUnits)
    import spark.implicits._
    states.map { s =>
      (s, pi(s),
        BigDecimal(pi(s).toDouble / unit.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        sweeps.toLong)
    }.toDF("state", "pi_units", "pi", "iters_run")
  }

  /** Entropy rate of the behavior chain — how PREDICTABLE is the next
    * event type given the current one, weighted by where the chain
    * actually lives:
    *
    *   H = Σ_s π_s · H(row_s),   H(row_s) = ln n_s − (Σ_t n_st·ln n_st)/n_s
    *
    * (nats; π from [[stationaryDistribution]]'s exact integer power
    * iteration, row entropies from the same transition counts). The
    * one-number summary over q_transitions' whole matrix — `perplexity`
    * = e^H is the effective next-state branching factor, the chain-level
    * sibling of [[graft.text.Rank]]'s conditional bigram entropy. One
    * row: `(n_states, iters_run, entropy_rate, perplexity)`. Absorbing
    * states (no outgoing edges) carry zero row entropy by convention.
    *
    * Determinism: transition cells are exact counts; each n·ln n
    * nano-quantizes before the exact per-state sum (integer-arg ln);
    * π enters as `pi_units/1e12` (an exact integer ratio); per-state
    * terms nano-quantize before the exact k-row rollup; the oracle
    * replays the π chain CTE-for-CTE (the q_stationary unroll) and the
    * entropy close as the same fixed trees.
    *
    * Scale shape: the [[stationaryDistribution]] contract — one
    * entity-sequenced counting pass (twice: π and the row entropies
    * share its shape), types²-bounded tables everywhere after.
    */
  def entropyRate(events: DataFrame, entityCol: String, tsCol: String,
                  tieCol: String, typeCol: String, iterations: Int,
                  tolUnits: Long = 0L): DataFrame = {
    val piDf = stationaryDistribution(events, entityCol, tsCol, tieCol,
      typeCol, iterations, tolUnits = tolUnits)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val cnt = events
      .select(col(typeCol).cast("string").as("from_type"),
        lead(col(typeCol), 1).over(w).cast("string").as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowH = cnt.groupBy(col("from_type"))
      .agg(sum(col("n")).as("__ns"),
        sum(round(col("n").cast("double") * log(col("n").cast("double"))
          * lit(1e9), 0).cast(dec)).as("__nln"))
    val hS = log(col("__ns").cast("double")) -
      col("__nln").cast("double") / lit(1e9) / col("__ns").cast("double")
    val piD = col("pi_units").cast("double") / lit(1e12)
    val terms = piDf.join(rowH, piDf("state") === rowH("from_type"))
      .select(round(piD * hS * lit(1e9), 0).cast(dec).as("__t"))
    val k = piDf.agg(count(lit(1)).as("n_states"),
      max(col("iters_run")).as("iters_run"))
    val hTot = terms.agg(sum(col("__t")).as("__ts"))
    k.crossJoin(broadcast(hTot)).select(
      col("n_states"), col("iters_run"),
      round(col("__ts").cast("double") / lit(1e9), 6).as("entropy_rate"),
      round(exp(col("__ts").cast("double") / lit(1e9)), 6).as("perplexity"))
  }

  /** Linear multi-touch attribution: each conversion's value splits
    * equally over the touches since the entity's PREVIOUS conversion,
    * and credit aggregates by a caller-supplied touch bucket (hour,
    * campaign, source…) — "which touches actually drive conversions?",
    * the question last-click dashboards answer wrong. Returns
    * `(bucket, n_touches, credit)`; conversions with no preceding
    * touch in their window carry no credit (documented — an
    * 'unattributed' bucket is the caller's explicit choice via a
    * default bucket value). Conversions need a non-null value.
    *
    * Determinism: conversion windows key on the exact count of PRIOR
    * conversions (an integer, total order from (ts, tie)); per-touch
    * credit value/k nano-quantizes before the bucket sum.
    *
    * Scale shape: one entity-keyed sort window assigns windows; one
    * (entity, window) aggregation counts touches; the conversion join
    * is co-keyed on the same (entity, window); one final bucket
    * aggregation. Raw events shuffle once.
    */
  def linearAttribution(events: DataFrame, entityCol: String, tsCol: String,
                        tieCol: String, isTouch: Column, isConversion: Column,
                        valueCol: Column, bucket: Column): DataFrame = {
    val tagged = events.select(col(entityCol).as("__e"),
        isTouch.as("__t"), isConversion.as("__c"),
        round(valueCol * lit(100.0), 0).cast("long").as("__cents"),
        bucket.as("__b"), col(tsCol).as("__ts"), col(tieCol).as("__tie"))
      .withColumn("__g", coalesce(
        sum(when(col("__c"), 1L).otherwise(0L)).over(
          Window.partitionBy(col("__e")).orderBy(col("__ts"), col("__tie"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val touches = tagged.filter(col("__t"))
      .select(col("__e"), col("__g"), col("__b"))
    val ks = touches.groupBy(col("__e"), col("__g"))
      .agg(count(lit(1)).as("__k"))
    val convs = tagged.filter(col("__c") && col("__cents").isNotNull)
      .select(col("__e"), col("__g"), col("__cents"))
    val credited = touches
      .join(convs, Seq("__e", "__g"))
      .join(ks, Seq("__e", "__g"))
      .select(col("__b"),
        round(col("__cents").cast("double") / lit(100.0)
          / col("__k").cast("double") * lit(1e9), 0).cast("long").as("__nano"))
    credited.groupBy(col("__b").as("bucket"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("__nano")).cast("double") / lit(1e9), 6).as("credit"))
  }

  /** Trailing-window distinct active entities per period (rolling
    * DAU/WAU/MAU): for each period `d`, the number of distinct entities
    * with at least one event in `[d − windowPeriods + 1, d]`.
    *
    * The naive spelling — a per-day window `COUNT(DISTINCT)` or a day ×
    * events range self-join — rescans the stream per period. This one
    * dedupes to (entity, period) once [shuffle 1], EXPLODES each active
    * period into the ≤ `windowPeriods` target periods it contributes to
    * (a narrow per-row `sequence`), and counts distinct entities per
    * target [shuffle 2] — data moved is O(active-entity-periods ×
    * windowPeriods), independent of raw event count. Target periods past
    * the stream's last observed period are clipped (they'd be
    * phantom trailing rows); periods with NO activity in their whole
    * trailing window are genuinely absent, not zero rows.
    *
    * @param periodSeconds  period bucket width (default 1 day)
    * @param windowPeriods  trailing window length in periods (e.g. 7)
    * @return (period_ts, n_active), period_ts = bucket start timestamp
    */
  def rollingActiveEntities(events: DataFrame, entityCol: String, tsCol: String,
                            windowPeriods: Int,
                            periodSeconds: Long = 86400L): DataFrame = {
    require(windowPeriods > 0, s"windowPeriods must be positive: $windowPeriods")
    require(periodSeconds > 0, s"periodSeconds must be positive: $periodSeconds")
    Guards.requireNoReservedNames(events,
      Seq("period_ts", "n_active", "__p", "__t", "__pmax"), "rollingActiveEntities")
    val us = periodSeconds * 1000000L
    val active = events
      .select(col(entityCol), floor(unix_micros(col(tsCol)) / us).as("__p"))
      .distinct()
    val last = active.agg(max(col("__p")).as("__pmax"))
    active
      .select(col(entityCol),
        explode(sequence(col("__p"), col("__p") + lit(windowPeriods - 1L))).as("__t"))
      .crossJoin(broadcast(last))
      .filter(col("__t") <= col("__pmax"))
      .groupBy(col("__t"))
      .agg(countDistinct(col(entityCol)).as("n_active"))
      .select(timestamp_micros(col("__t") * us).as("period_ts"), col("n_active"))
  }

  /** Sketch-path sibling of [[rollingActiveEntities]] for corpus scale:
    * per-period HLL sketches of the entity set, trailing windows merged
    * by sketch UNION. The raw stream reduces to ONE map-combined sketch
    * per period (≈1-2 KB each) in the first pass — no (entity, period)
    * dedupe shuffle at all — and everything after is period-count-sized,
    * so a 100 TB year of events costs one streaming aggregation plus
    * arithmetic on ~365 rows. Estimates carry the standard HLL envelope
    * (±~1.6%·4σ at lgK=12); [[rollingActiveEntities]] is the exact form.
    */
  def rollingActiveEntitiesApprox(events: DataFrame, entityCol: String,
                                  tsCol: String, windowPeriods: Int,
                                  periodSeconds: Long = 86400L,
                                  lgK: Int = 12): DataFrame = {
    require(windowPeriods > 0, s"windowPeriods must be positive: $windowPeriods")
    require(periodSeconds > 0, s"periodSeconds must be positive: $periodSeconds")
    Guards.requireNoReservedNames(events,
      Seq("period_ts", "n_active_est", "__p", "__t", "__pmax", "__sk"),
      "rollingActiveEntitiesApprox")
    val us = periodSeconds * 1000000L
    val perPeriod = events
      .select(floor(unix_micros(col(tsCol)) / us).as("__p"), col(entityCol))
      .groupBy(col("__p"))
      .agg(hll_sketch_agg(col(entityCol), lit(lgK)).as("__sk"))
    val last = perPeriod.agg(max(col("__p")).as("__pmax"))
    perPeriod
      .select(col("__sk"),
        explode(sequence(col("__p"), col("__p") + lit(windowPeriods - 1L))).as("__t"))
      .crossJoin(broadcast(last))
      .filter(col("__t") <= col("__pmax"))
      .groupBy(col("__t"))
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"), lit(false)))
        .as("n_active_est"))
      .select(timestamp_micros(col("__t") * us).as("period_ts"), col("n_active_est"))
  }

  /** Time-to-conversion: per entity, the FIRST `fromType` event and the
    * first `toType` event AT OR AFTER it, with the lag in microseconds —
    * the activation-latency metric behind "median time from signup to
    * purchase" readouts. Entities that never fired `fromType`, or never
    * converted after it, are absent (count them against cohort size
    * separately if you need non-conversion rates).
    *
    * Shape: one hash shuffle on the entity; the first-`fromType`
    * timestamp is a whole-partition `min` window over the SAME exchange
    * the conversion aggregation then reuses — no self-join of the
    * fromType and toType slices. Lag is exact long microseconds.
    *
    * @return (entityCol, from_ts, to_ts, lag_us)
    */
  def timeToConvert(events: DataFrame, entityCol: String, tsCol: String,
                    typeCol: String, fromType: String, toType: String): DataFrame = {
    Guards.requireNoReservedNames(events,
      Seq("from_ts", "to_ts", "lag_us", "__f"), "timeToConvert")
    val w = Window.partitionBy(col(entityCol))
    events
      .withColumn("__f", min(when(col(typeCol) === fromType, col(tsCol))).over(w))
      .filter(col(typeCol) === toType && col("__f").isNotNull &&
        col(tsCol) >= col("__f"))
      .groupBy(col(entityCol))
      .agg(min(col("__f")).as("from_ts"), min(col(tsCol)).as("to_ts"))
      .withColumn("lag_us", unix_micros(col("to_ts")) - unix_micros(col("from_ts")))
  }

  /** Item co-occurrence with lift — the market-basket association view
    * of an event stream: for every unordered item pair, how many
    * entities did both, and how far above independence that is
    * (`lift = P(a,b) / (P(a)·P(b))`, > 1 ⇒ positively associated).
    *
    * Shape: entities×items dedupe once (shuffle on entity); the pair
    * join is a self-join CO-PARTITIONED on the entity (one reused
    * exchange), so pair work is bounded by per-entity item counts (k²
    * per entity, k = distinct items an entity touched — bounded by the
    * item vocabulary, NOT the event count). Item marginals attach via
    * plain equi-joins with NO broadcast hint: AQE converts them to
    * broadcast from their measured shuffle size while the item
    * vocabulary fits, and keeps the shuffle join when it doesn't — the
    * hint-free way to avoid both the driver OOM of a hard-coded
    * broadcast and the probe job a size check would cost. The entity
    * total rides a 1-row broadcast. Lift is one division of exact long
    * counts — bit-deterministic.
    *
    * @return (item_a, item_b, n_ab, n_a, n_b, lift), item_a < item_b
    */
  def cooccurrenceLift(df: DataFrame, entityCol: String, itemCol: String): DataFrame = {
    Guards.requireNoReservedNames(df,
      Seq("item_a", "item_b", "n_ab", "n_a", "n_b", "lift", "__n_entities"),
      "cooccurrenceLift")
    // distinct (entity, item)-bounded and read four times (marginals,
    // the entity count, and both self-join sides): materialize once so
    // the upstream basket build (often a dimension join) never replays
    val items = df.select(col(entityCol), col(itemCol)).distinct()
      .localCheckpoint()
    val marginals = items.groupBy(col(itemCol)).agg(count(lit(1)).as("n"))
    val nEntities = items.select(col(entityCol)).distinct()
      .agg(count(lit(1)).as("__n_entities"))
    val a = items.toDF(entityCol, "item_a")
    val b = items.toDF(entityCol, "item_b")
    val pairs = a.join(b, Seq(entityCol))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(marginals.toDF("item_a", "n_a"), Seq("item_a"))
      .join(marginals.toDF("item_b", "n_b"), Seq("item_b"))
      .crossJoin(broadcast(nEntities))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        // each count casts to double BEFORE multiplying: long products of
        // two multi-billion counts overflow (ANSI Spark throws)
        ((col("n_ab").cast("double") * col("__n_entities").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
  }

  /** Frequent CONSECUTIVE event sequences — the sequential-pattern step
    * past [[transitionMatrix]]'s bigram counts: every length-`len` run
    * of consecutive events per entity (a contiguous sliding window over
    * the entity's deterministic timeline, the "what journeys actually
    * happen" question bigrams compress away — a>b>c and b>a>c share all
    * their bigram mass yet are different funnels). Patterns emit as
    * `'>'`-joined strings so the k-ary shape stays one fixed schema.
    *
    * Determinism: the per-entity ordering is (ts, tie) exactly as
    * [[transitionMatrix]]; null `typeCol` events drop BEFORE windowing
    * (matching [[transitionMatrix]] — r12 fix: `concat_ws` silently
    * skips nulls, so a mid-window null used to emit a SHORTENED string
    * still counted as a length-`len` pattern); after that filter a
    * window's pattern is defined exactly when its LAST lead resolves
    * (leads null only at each partition's tail, so the surviving
    * windows are the complete ones). Event types containing the `'>'`
    * separator would collide in the joined-string encoding — callers
    * with such vocabularies must re-encode upstream (documented, not
    * scanned: a full-column guard would cost a pass per call).
    *
    * Scale shape: one entity-keyed shuffle for the sequence window
    * (len−1 leads ride the SAME window spec — one sort, not len), a
    * pattern-keyed map-combined count (result bounded by |types|^len,
    * never rows), support prune, then a bounded-table sort. The
    * `minCount` prune runs BEFORE the distinct-entity count so the
    * heavy tail never reaches the second aggregation.
    *
    * @return (pattern, n_occurrences, n_entities) for patterns with
    *         n_occurrences >= minCount, ordered (n desc, pattern) —
    *         a total order, so top-k consumers are deterministic
    */
  def frequentSequences(events: DataFrame, entityCol: String, tsCol: String,
                        tieCol: String, typeCol: String, len: Int,
                        minCount: Long = 1L): DataFrame = {
    require(len >= 2, s"len must be >= 2: $len")
    Guards.requireNoReservedNames(events,
      Seq("pattern", "n_occurrences", "n_entities", "__e"), "frequentSequences")
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val steps = col(typeCol) +: (1 until len).map(i => lead(col(typeCol), i).over(w))
    val windows = events
      .filter(col(typeCol).isNotNull)
      .select(col(entityCol).as("__e"), concat_ws(">", steps: _*).as("pattern"),
        steps.last.isNotNull.as("__complete"))
      .filter(col("__complete"))
    val counted = windows
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
    val entities = windows.join(counted.select(col("pattern")), Seq("pattern"),
        "left_semi")
      .select(col("pattern"), col("__e")).distinct()
      .groupBy(col("pattern")).agg(count(lit(1)).as("n_entities"))
    counted.join(entities, Seq("pattern"))
      .orderBy(col("n_occurrences").desc, col("pattern"))
  }

  /** DIRECTED association rules over entity baskets — the market-basket
    * step past [[cooccurrenceLift]]'s symmetric lift: for every ordered
    * pair with joint count ≥ `minPairCount`,
    *
    *   support    = n_ab / N        (how common the pair is)
    *   confidence = n_ab / n_a      (P(consequent | antecedent) — the
    *                                 directional signal lift can't give)
    *   lift       = N·n_ab / (n_a·n_b)
    *
    * Two rows per co-occurring pair (a→b and b→a — confidence is
    * asymmetric, that's the point). Counts are exact longs; the three
    * ratios are fixed IEEE trees over them, 6 dp.
    *
    * Scale shape: one basket-keyed self-join bounded by per-basket item
    * count (the [[cooccurrenceLift]] shape), marginals joined on the
    * item key (item-cardinality-sized — broadcast-eligible), N as a
    * 1-row broadcast scalar attach. `minPairCount` prunes the long tail
    * BEFORE the marginal joins.
    */
  def associationRules(df: DataFrame, entityCol: String, itemCol: String,
                       minPairCount: Long = 1L): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1: $minPairCount")
    Guards.requireNoReservedNames(df,
      Seq("antecedent", "consequent", "n_ab", "n_a", "n_b",
        "support", "confidence", "lift", "__n_entities"),
      "associationRules")
    // distinct (entity, item)-bounded and read four times (marginals,
    // the entity count, and both self-join sides): materialize once so
    // the upstream basket build (often a dimension join) never replays
    val items = df.select(col(entityCol), col(itemCol)).distinct()
      .localCheckpoint()
    val marginals = items.groupBy(col(itemCol)).agg(count(lit(1)).as("n"))
    val nEntities = items.select(col(entityCol)).distinct()
      .agg(count(lit(1)).as("__n_entities"))
    val a = items.toDF(entityCol, "antecedent")
    val b = items.toDF(entityCol, "consequent")
    val pairs = a.join(b, Seq(entityCol))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pairs
      .join(marginals.toDF("antecedent", "n_a"), Seq("antecedent"))
      .join(marginals.toDF("consequent", "n_b"), Seq("consequent"))
      .crossJoin(broadcast(nEntities))
      .select(col("antecedent"), col("consequent"),
        col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("__n_entities").cast("double"), 6)
          .as("support"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence"),
        round((col("n_ab").cast("double") * col("__n_entities").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
  }

  /** First-order Markov removal-effect attribution — the OTHER
    * principled multi-touch model beside [[shapleyAttribution]]
    * (Anderl et al. 2016): user journeys become a Markov chain
    * `start → touches… → conversion | null` (each journey truncates at
    * its FIRST conversion), the chain's absorption probability into
    * `conversion` is computed by at most `iterations` monotone
    * value-iteration sweeps, stopping at the exact fixed point (a sweep
    * that leaves every probability unchanged), and channel c's worth is
    * how much that probability DROPS when c is knocked out (its state
    * forced to 0 — the "redirect to dropout" semantics). Per channel:
    * `(channel, p_base_units, p_removed_units, removal_units,
    * share_micros)` — probabilities in exact 10⁹ units, shares the
    * usual normalized attribution weights.
    *
    * Determinism: the transition census is exact counts
    * (states²-bounded with the [[stationaryDistribution]] hard
    * `require` BEFORE the collect); every sweep is exact big-integer
    * arithmetic — p'(s) = ⌊Σ_t p(t)·n_st / out_s⌋ — replayed
    * CTE-for-CTE by the oracle in HUGEINT; monotonicity of the sweep
    * map makes every removal effect provably ≥ 0 at equal sweep
    * counts.
    *
    * Scale shape: two user-partitioned window passes build the journey
    * edges, ONE census shuffle reduces them to ≤ states² cells;
    * all 1 + |channels| scenarios sweep on the driver over those cells
    * — zero Spark jobs per sweep (the [[stationaryDistribution]]
    * posture).
    */
  def removalEffects(events: DataFrame, entityCol: String, tsCol: String,
                     tieCol: String, typeCol: String,
                     channels: Seq[String], conversionType: String,
                     iterations: Int = 16, maxStates: Int = 1000): DataFrame = {
    require(channels.nonEmpty && channels.distinct.size == channels.size,
      "channels must be non-empty and distinct")
    require(!channels.contains(conversionType),
      "conversionType cannot also be a channel")
    val reserved = Set("start", "null", "conversion")
    require(!(channels :+ conversionType).exists(reserved),
      s"channel/conversion names collide with the reserved states $reserved")
    require(iterations >= 1 && iterations <= 64,
      s"iterations out of range: $iterations")
    val unit = 1000000000L
    val spark = events.sparkSession
    val w = Window.partitionBy(col("__u")).orderBy(col("__ts"), col("__tie"))
    val wAll = Window.partitionBy(col("__u"))
    val tagged = events.select(col(entityCol).as("__u"), col(tsCol).as("__ts"),
        col(tieCol).as("__tie"),
        when(col(typeCol) === conversionType, lit("conversion"))
          .otherwise(col(typeCol).cast("string")).as("__s"))
      .filter(col("__u").isNotNull && col("__s").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cvrn",
        min(when(col("__s") === "conversion", col("__rn"))).over(wAll))
      .filter(col("__cvrn").isNull || col("__rn") <= col("__cvrn"))
    val w3 = Window.partitionBy(col("__u")).orderBy(col("__rn"))
    val withNext = tagged.withColumn("__next", lead(col("__s"), 1).over(w3))
    val edges = withNext.filter(col("__next").isNotNull)
        .select(col("__s").as("from_type"), col("__next").as("to_type"))
      .union(tagged.filter(col("__rn") === 1)
        .select(lit("start").as("from_type"), col("__s").as("to_type")))
      .union(withNext
        .filter(col("__next").isNull && col("__s") =!= "conversion")
        .select(col("__s").as("from_type"), lit("null").as("to_type")))
    val cellsDf = edges.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells: Array[(String, String, Long)] = Observe.releasing(cellsDf) {
      val nStates = Observe.rowCount(cellsDf.select(col("from_type").as("__x"))
        .union(cellsDf.select(col("to_type"))).distinct())
      require(nStates <= maxStates.toLong,
        s"removalEffects materializes a states²-bounded transition table " +
          s"on the driver; got $nStates distinct states (cap $maxStates) — " +
          "the journey column must be a bounded vocabulary, not raw ids")
      cellsDf.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
    val states = (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted.toSeq
    val outs: Map[String, Long] =
      cells.groupBy(_._1).map { case (s, cs) => s -> cs.map(_._3).sum }
    // the sweep map reads nothing but p, so a sweep that leaves p
    // unchanged is the fixed point: every later sweep repeats it
    def absorb(removed: Option[String]): Long =
      Observe.iterate("removalEffects", states.map(s =>
          s -> (if (s == "conversion") BigInt(unit) else BigInt(0))).toMap, iterations) { p =>
        val num = scala.collection.mutable.Map.empty[String, BigInt]
        cells.foreach { case (f, t2, n) =>
          num(f) = num.getOrElse(f, BigInt(0)) + p(t2) * n
        }
        states.map { s =>
          val v: BigInt =
            if (s == "conversion") BigInt(unit)
            else if (removed.contains(s)) BigInt(0)
            else if (!outs.contains(s)) BigInt(0)
            else num.getOrElse(s, BigInt(0)) / outs(s)
          s -> v
        }.toMap
      }(_ == _)._1.getOrElse("start", BigInt(0)).toLong
    val pBase = absorb(None)
    val rows = channels.sorted.map { c =>
      val pc = if (states.contains(c)) absorb(Some(c)) else pBase
      (c, pBase, pc, pBase - pc)
    }
    val totalRemoval = rows.map(_._4).sum
    import spark.implicits._
    rows.map { case (c, pb, pc, rm) =>
      val share: Option[Long] =
        if (totalRemoval > 0L)
          Some(((BigInt(rm) * 2000000 + totalRemoval) /
            (BigInt(totalRemoval) * 2)).toLong)
        else None
      (c, pb, pc, rm, share)
    }.toDF("channel", "p_base_units", "p_removed_units", "removal_units",
      "share_micros")
      .orderBy(col("channel"))
  }

  /** Shapley-value channel attribution — the game-theoretic answer to
    * "which marketing channel actually earns the conversions" that
    * last-touch/first-touch heuristics (and q_attribution's positional
    * splits) cannot give: with channels as PLAYERS and
    *
    *   v(S) = number of converting users whose touched-channel set ⊆ S
    *
    * as the coalition value, each channel's Shapley value
    * φᵢ = Σ_{S ⊆ N∖{i}} |S|!(n−|S|−1)!/n! · (v(S∪{i}) − v(S)) divides
    * conversion credit EXACTLY (efficiency: Σφᵢ = v(N) − v(∅), the
    * zero-touch converters staying unattributed by construction).
    *
    * All-integer engine arithmetic: users collapse to a channel
    * BITMASK census (≤ 2^C rows), v(S) is a subset-sum join of that
    * census against the 2^C coalition spine (bit-AND containment —
    * cells², never users²), and φ computes in n!-scaled integer units
    * (weights |S|!(n−1−|S|)! are exact integers) before one integral-
    * division micro quantization. Per channel:
    * `(channel, exposed_users, exposed_converters, phi_factorial_units,
    * phi_micros)`.
    *
    * Scale shape: ONE user-keyed aggregation reduces events to users,
    * one census aggregation reduces users to ≤ 2^C masks; everything
    * after is joins between ≤ 2^C-row broadcast tables. `channels` is
    * capped at 5 (120 weight units, 32 coalitions) — attribution
    * beyond a handful of channels is not identifiable anyway.
    */
  def shapleyAttribution(events: DataFrame, entityCol: String,
                         typeCol: String, channels: Seq[String],
                         conversionType: String): DataFrame = {
    require(channels.nonEmpty && channels.size <= 5,
      s"1..5 channels: ${channels.size}")
    require(channels.distinct.size == channels.size, "duplicate channels")
    require(!channels.contains(conversionType),
      "conversionType cannot also be a channel")
    val n = channels.size
    val full = (1 << n) - 1
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val nFact = fact(n)
    val spark = events.sparkSession
    import spark.implicits._
    // per-user touch mask + converted flag, then the mask census
    val maskCol = channels.zipWithIndex.map { case (c, i) =>
      max(when(col(typeCol) === c, 1L << i).otherwise(0L))
    }.reduce(_ + _)
    val perUser = events.groupBy(col(entityCol))
      .agg(maskCol.as("__m"),
        max(when(col(typeCol) === conversionType, 1L).otherwise(0L)).as("__cv"))
    val census = perUser.groupBy(col("__m"))
      .agg(count(lit(1)).as("__nu"), sum(col("__cv")).as("__nc"))
    // v(S) for every coalition S: subset-sum of converting users
    val coalitions = (0 to full).map(_.toLong).toDF("__s")
    val v = census.join(broadcast(coalitions),
        (col("__m").bitwiseAND(col("__s"))) === col("__m"))
      .groupBy(col("__s")).agg(sum(col("__nc")).as("__v"))
    // Shapley spine: (channel, S without i, S∪{i}, |S|!(n-1-|S|)!) —
    // exact integer weights in n!-units, all masks precomputed
    val spine = (for {
      i <- 0 until n
      s <- 0 to full
      if (s & (1 << i)) == 0
    } yield (channels(i), s.toLong, (s | (1 << i)).toLong,
      fact(java.lang.Integer.bitCount(s)) *
        fact(n - 1 - java.lang.Integer.bitCount(s))))
      .toDF("channel", "__s0", "__s1", "__w")
    val phi = spine
      .join(broadcast(v.select(col("__s").as("__s0"), col("__v").as("__v0"))),
        Seq("__s0"), "left")
      .join(broadcast(v.select(col("__s").as("__s1"), col("__v").as("__v1"))),
        Seq("__s1"), "left")
      .groupBy(col("channel"))
      .agg(sum((coalesce(col("__v1"), lit(0L)) - coalesce(col("__v0"), lit(0L)))
        * col("__w")).as("__phiw"))
    val exposed = perUser
      .select(explode(typedLit(channels.zipWithIndex)).as("__ch"), col("__m"),
        col("__cv"))
      .filter((col("__m").bitwiseAND(expr("shiftleft(1L, __ch._2)"))) =!= 0L)
      .groupBy(col("__ch._1").as("channel"))
      .agg(count(lit(1)).as("exposed_users"),
        sum(col("__cv")).as("exposed_converters"))
    phi.join(exposed, Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("exposed_users"), lit(0L)).as("exposed_users"),
        coalesce(col("exposed_converters"), lit(0L)).as("exposed_converters"),
        col("__phiw").as("phi_factorial_units"),
        expr(s"(cast(__phiw as decimal(38,0)) * 2000000 + $nFact) div " +
          s"(cast($nFact as decimal(38,0)) * 2)").cast("long").as("phi_micros"))
      .orderBy(col("channel"))
  }
}
