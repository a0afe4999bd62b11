package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Bilateral price-index numbers (Laspeyres / Paasche / Fisher) over a
  * transaction table — the reference library's home domain (ONS consumer
  * prices: ons_utils feeds CPI-style index pipelines), re-expressed as
  * one Spark aggregation chain.
  *
  * Matched-sample design: an item enters period t's index only if it
  * also trades in the base period (the inner join against the base
  * basket), the standard bilateral treatment of churn. Unit values
  * (Σ expenditure / Σ quantity per item-period) stand in for price
  * quotes, the usual scanner-data convention.
  *
  * Determinism (the repo's playbook, applied end-to-end): expenditure
  * and quantity sum as DECIMAL(18,2) (double addition is
  * partial-order-dependent); each unit value is ONE correctly-rounded
  * double division of exact decimals; every per-item index term
  * (p·q products) quantizes to integer micro-units BEFORE the per-period
  * sum, so the numerators/denominators are exact BIGINTs at any
  * parallelism; the emitted ratios round to 6 dp; Fisher's sqrt is
  * IEEE-exact on identical operands.
  *
  * Scale shape: one (item, period) aggregation (map-side combined) over
  * the transaction scan; the base basket is item-bounded and joins
  * hint-free (AQE broadcasts it when it fits); the per-period reduction
  * moves four longs per item-period. A 100 TB transaction history costs
  * one shuffle keyed (item, period) — index math never sees row-level
  * data again.
  */
object PriceIndex {

  /** Attach base-period columns to a unit-value panel as an
    * item-partitioned window instead of the aggregate-filter-join
    * spelling: `renames` maps each panel column to its base-period
    * alias (e.g. `__p -> __p0`), taken from the key's `basePeriod` row
    * (unique post-aggregation), and rows whose key has NO base-period
    * row are dropped — exactly the matched-sample inner join, value-
    * and null-identical, but the panel builds from ONE input scan and
    * one aggregation instead of two (the window's item-keyed exchange
    * moves panel cells, never raw transactions).
    *
    * NULL keys are filtered BEFORE the window (r15, ADVICE r14): the
    * old inner join on the key columns never matched a NULL key, so a
    * null-keyed group must not ride the window into the index
    * aggregates. The filter sits below the aggregation lineage and
    * pushes to the scan.
    */
  private def attachBase(uv: DataFrame, basePeriod: String,
                         keys: Seq[String],
                         renames: Seq[(String, String)]): DataFrame =
    attachRefs(uv, keys, Seq(basePeriod -> renames))

  /** [[attachBase]] for SEVERAL reference periods in ONE window pass
    * (r15): every reference's columns and existence flag ride the same
    * key-partitioned window, so a two-reference panel (Lowe/Young)
    * plans one WindowExec/sort instead of two chained ones. Rows
    * survive only when EVERY reference period has a row for their key
    * — exactly the chained inner joins, because each chained filter
    * drops whole key groups and the window aggregates are insensitive
    * to dropping groups they never see.
    */
  private def attachRefs(uv: DataFrame, keys: Seq[String],
                         refs: Seq[(String, Seq[(String, String)])]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val nn = keys.foldLeft(uv)((d, k) => d.filter(col(k).isNotNull))
    val withCols = refs.zipWithIndex.foldLeft(nn) {
      case (d0, ((period, renames), i)) =>
        val isRef = col("__pd") === period
        val d1 = renames.foldLeft(d0) { case (d, (src, dst)) =>
          d.withColumn(dst, max(when(isRef, col(src))).over(W))
        }
        d1.withColumn(s"__hb_$i", max(when(isRef, lit(1))).over(W))
    }
    val kept = refs.indices.map(i => col(s"__hb_$i") === 1).reduce(_ && _)
    withCols.filter(kept).drop(refs.indices.map(i => s"__hb_$i"): _*)
  }

  /** Elementary (unweighted) index formulas vs `basePeriod` — the layer
    * BELOW [[bilateralIndexes]] in a CPI build, where quantities are
    * unavailable and the formula choice (Carli vs Dutot vs Jevons) is a
    * methodological decision: `(period, n_items, carli, dutot, jevons)`.
    *
    * Carli = mean of price relatives; Dutot = ratio of mean prices;
    * Jevons = geometric mean of relatives. Per-item terms quantize to
    * integer nano/micro-units before the per-period sums (exact at any
    * parallelism); Jevons' per-item `ln` quantizes the same way, and the
    * single final `exp` lands on identical arguments in every engine, so
    * the 6-dp emitted value agrees despite libm ulp drift (the q_outliers
    * round-both-sides rule).
    */
  def elementaryIndexes(df: DataFrame, itemCol: String, periodCol: Column,
                        expCol: String, qtyCol: String,
                        basePeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"))
    val rel = col("__p") / col("__p0")
    val nD = col("n_items").cast("double")
    attachBase(uv, basePeriod, Seq("__it"), Seq("__p" -> "__p0"))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(rel * lit(1e9), 0).cast("long")).as("__sr"),
        sum(round(col("__p") * lit(1e6), 0).cast("long")).as("__sp"),
        sum(round(col("__p0") * lit(1e6), 0).cast("long")).as("__sp0"),
        sum(round(log(rel) * lit(1e9), 0).cast("long")).as("__slr"))
      .select(col("__pd").as("period"), col("n_items"),
        round(col("__sr").cast("double") / nD / lit(1e9), 6).as("carli"),
        round(col("__sp").cast("double") / col("__sp0").cast("double"), 6).as("dutot"),
        round(exp(col("__slr").cast("double") / nD / lit(1e9)), 6).as("jevons"))
  }

  /** Chain-linked Laspeyres: a month-on-month link from each CONSECUTIVE
    * matched sample (items trading in both t-1 and t — chaining's whole
    * point is that the basket refreshes every period, so churn costs one
    * month of history, not the whole series), composed into a running
    * index by cumulative product. `(period date, n_items, link, chained)`.
    *
    * Determinism: links are built exactly like [[bilateralIndexes]]
    * (micro-quantized terms, integer sums); the chain composes as
    * `exp(Σ round(ln(link)·1e9) / 1e9)` — quantized log-links prefix-sum
    * EXACTLY in a window, one final `exp`, 6-dp emitted — because a
    * sequential double product would depend on fold order while integer
    * prefix sums cannot. The links table is period-bounded, so the
    * whole-frame window is bounded by construction (the q_drift rule).
    */
  def chainedIndex(df: DataFrame, itemCol: String, periodCol: Column,
                   expCol: String, qtyCol: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    val prev = uv.select(col("__it"), add_months(col("__pd"), 1).as("__pd"),
      col("__p").as("__pp"), col("__q").as("__pq"))
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    val links = uv.join(prev, Seq("__it", "__pd"))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"),
        sum(micro(col("__p") * col("__pq"))).as("__num"),
        sum(micro(col("__pp") * col("__pq"))).as("__den"))
      .select(col("__pd"), col("n_items"),
        (col("__num").cast("double") / col("__den").cast("double")).as("__link"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("__pd")).rowsBetween(W.unboundedPreceding, W.currentRow)
    links
      .withColumn("__cln", sum(round(log(col("__link")) * lit(1e9), 0).cast("long")).over(w))
      .select(col("__pd").as("period"), col("n_items"),
        round(col("__link"), 6).as("link"),
        round(exp(col("__cln").cast("double") / lit(1e9)), 6).as("chained"))
  }

  /** Tukey-cleansed Jevons — the ONS-style validation step between price
    * collection and index compilation: per period, price relatives
    * outside their Tukey fences ([[Outliers.flagIqrOutliers]], exact
    * percentiles) are dropped before the geometric mean. Returns
    * `(period, n_items, n_kept, jevons, jevons_cleansed)` — both the raw
    * and the cleansed index, so the cleansing's effect is itself a
    * queryable number. Fence COMPARISONS run on raw doubles (identical in
    * both engines; the playbook's straddle rule), emitted indexes on the
    * quantized-ln path round to 6 dp.
    */
  def cleansedJevons(df: DataFrame, itemCol: String, periodCol: Column,
                     expCol: String, qtyCol: String, basePeriod: String,
                     k: Double = 1.5): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"))
    // panel-bounded (one row per item×period) and read twice below —
    // once inside the Tukey-fence aggregation and once as the join's
    // probe side: materialize it so the one-scan unit-value build
    // ([[attachBase]]'s window form) runs once, not per reference
    val rel = attachBase(uv, basePeriod, Seq("__it"), Seq("__p" -> "__p0"))
      .select(col("__pd"), (col("__p") / col("__p0")).as("__rel"))
      .localCheckpoint()
    val flagged = Outliers.flagIqrOutliers(rel, Seq("__pd"), "__rel", k)
    val lnMicro = round(log(col("__rel")) * lit(1e9), 0).cast("long")
    flagged.groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(!col("is_outlier"), 1L).otherwise(0L)).as("n_kept"),
        sum(lnMicro).as("__slr_all"),
        sum(when(!col("is_outlier"), lnMicro).otherwise(0L)).as("__slr_kept"))
      .select(col("__pd").as("period"), col("n_items"), col("n_kept"),
        round(exp(col("__slr_all").cast("double")
          / col("n_items").cast("double") / lit(1e9)), 6).as("jevons"),
        round(exp(col("__slr_kept").cast("double")
          / col("n_kept").cast("double") / lit(1e9)), 6).as("jevons_cleansed"))
  }

  /** Carry-forward-imputed Laspeyres — CPI's answer to uncollected
    * prices: the BASE basket is held fixed, and an item missing in
    * period t keeps its last observed unit value ([[Timeseries.ffill]]'s
    * frame over an item×period spine), so the index never loses basket
    * coverage to collection gaps (unlike [[bilateralIndexes]]' matched
    * sample, which shrinks). Returns
    * `(period, n_items, n_imputed, laspeyres)` — the imputation COUNT
    * emits alongside the index, making data-quality drift queryable.
    *
    * Scale shape: the spine is base-basket × period-count (bounded, built
    * from two bounded sides); the fill is one item-keyed window; the
    * index reduction moves two micro-quantized longs per item-period.
    */
  def imputedIndex(df: DataFrame, itemCol: String, periodCol: Column,
                   expCol: String, qtyCol: String,
                   basePeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    val base = uv.filter(col("__pd") === basePeriod)
      .select(col("__it"), col("__p").as("__p0"), col("__q").as("__q0"))
    // periods before the base have no fill source — the index starts at base
    val periods = uv.select(col("__pd")).distinct()
      .filter(col("__pd") >= lit(basePeriod))
    val spine = base.crossJoin(periods)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("__it")).orderBy(col("__pd"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    spine
      .join(uv.select(col("__it"), col("__pd"), col("__p").as("__p_obs")),
        Seq("__it", "__pd"), "left")
      .withColumn("__p_fill", last(col("__p_obs"), ignoreNulls = true).over(w))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("__p_obs").isNull, 1L).otherwise(0L)).as("n_imputed"),
        sum(micro(col("__p_fill") * col("__q0"))).as("__numL"),
        sum(micro(col("__p0") * col("__q0"))).as("__denL"))
      .select(col("__pd").as("period"), col("n_items"), col("n_imputed"),
        round(col("__numL").cast("double") / col("__denL").cast("double"), 6)
          .as("laspeyres"))
  }

  /** Superlative indexes vs `basePeriod` — the formulas that treat both
    * periods' quantity information symmetrically (Fisher in
    * [[bilateralIndexes]] is one; these are the other two textbook
    * members): Törnqvist `exp(Σ s̄ᵢ·ln(pₜ/p₀))` with s̄ = the average of
    * the two periods' expenditure shares, and Walsh
    * `Σ √(q₀qₜ)·pₜ / Σ √(q₀qₜ)·p₀`. Returns
    * `(period, n_items, tornqvist, walsh)`.
    *
    * Determinism: shares are ratios of micro-quantized expenditure sums
    * (identical doubles); Törnqvist's per-item `s̄·ln(r)` terms and
    * Walsh's `√(q₀qₜ)·p` terms quantize to integer nano/micro-units
    * before their per-period sums; `√` is IEEE-exact on identical
    * operands; one final `exp` for Törnqvist; both emit at 6 dp.
    */
  def superlativeIndexes(df: DataFrame, itemCol: String, periodCol: Column,
                         expCol: String, qtyCol: String,
                         basePeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"), col("__S").cast("double").as("__e"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    val j = attachBase(uv, basePeriod, Seq("__it"),
      Seq("__e" -> "__e0", "__p" -> "__p0", "__q" -> "__q0"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(col("__pd"))
    def nano(x: Column): Column = round(x * lit(1e9), 0).cast("long")
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    // per-period expenditure totals for the shares: micro-quantized LONG
    // window sums (a raw double window sum would be order-dependent);
    // period-keyed — the same single exchange as the final aggregation
    val e0m = micro(col("__e0"))
    val etm = micro(col("__e"))
    val s0 = e0m.cast("double") / sum(e0m).over(W).cast("double")
    val st = etm.cast("double") / sum(etm).over(W).cast("double")
    val sBar = (s0 + st) / lit(2.0)
    val lnR = log(col("__p") / col("__p0"))
    val wq = sqrt(col("__q0") * col("__q"))
    j.select(col("__pd"), nano(sBar * lnR).as("__tn"),
        micro(wq * col("__p")).as("__wn"), micro(wq * col("__p0")).as("__wd"))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"), sum(col("__tn")).as("__t"),
        sum(col("__wn")).as("__n"), sum(col("__wd")).as("__d"))
      .select(col("__pd").as("period"), col("n_items"),
        round(exp(col("__t").cast("double") / lit(1e9)), 6).as("tornqvist"),
        round(col("__n").cast("double") / col("__d").cast("double"), 6).as("walsh"))
  }

  /** Per-GROUP bilateral Laspeyres — the two-level CPI build: sub-indexes
    * per class/division with their base-expenditure weights riding along,
    * so the published aggregate is the weighted mean of sub-indexes.
    * Returns `(groupCol, period, n_items, weight_micro, laspeyres)`;
    * `weight_micro` is the group's micro-quantized base expenditure
    * `Σ round(p₀q₀·1e6)` — EXACTLY the sub-index's denominator, so
    * `Σ_g w_g·L_g / Σ_g w_g` reproduces the all-items Laspeyres to the
    * emitted rounding (the Laspeyres decomposition, spec-pinned).
    */
  def groupedLaspeyres(df: DataFrame, itemCol: String, groupCol: String,
                       periodCol: Column, expCol: String, qtyCol: String,
                       basePeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), col(groupCol).as("__g"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__g"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    // Base keeps the group key: an item trading under two groups must
    // contribute its base basket to each group separately, not
    // cross-duplicate (the item→group dependency is NOT assumed).
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    attachBase(uv, basePeriod, Seq("__it", "__g"),
        Seq("__p" -> "__p0", "__q" -> "__q0"))
      .groupBy(col("__g"), col("__pd"))
      .agg(count(lit(1)).as("n_items"),
        sum(micro(col("__p") * col("__q0"))).as("__numL"),
        sum(micro(col("__p0") * col("__q0"))).as("weight_micro"))
      .select(col("__g").as(groupCol), col("__pd").as("period"),
        col("n_items"), col("weight_micro"),
        round(col("__numL").cast("double") / col("weight_micro").cast("double"), 6)
          .as("laspeyres"))
  }

  /** Quantized bilateral Törnqvist log-indexes for every ordered period
    * pair at most `maxLag` apart — the pairwise layer under
    * [[geksIndex]]. Returns `(m_a, m_b, lnt_nano)` where `m_*` is the
    * dense rank (from 0) of the period in the sorted observed period
    * sequence and `lnt_nano = Σ_i round(s̄ᵢ·ln(pᵢ(b)/pᵢ(a))·1e9)` over
    * the matched sample, s̄ the mean of the two periods' expenditure
    * shares within that sample (ratios of micro-quantized sums, exactly
    * [[superlativeIndexes]]' treatment).
    *
    * Scale shape: the self-join fans each item-period row out to at most
    * `maxLag` partners — LINEAR in items, never quadratic; one shuffle
    * keyed on item for the join, one keyed (m_a, m_b) for the share
    * windows + final reduction, which a pair row crosses as five numbers:
    * `m_a`, `m_b`, both micro-quantized expenditures and the log price
    * ratio ([[geksIndex]] labels `m_*` from its own period list). The output is period²-bounded (time-, not data-bounded), so
    * downstream GEKS math is driver-cheap at any data volume.
    */
  def tornqvistLnPairs(df: DataFrame, itemCol: String, periodCol: Column,
                       expCol: String, qtyCol: String,
                       maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"), col("__S").cast("double").as("__e"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"))
    // dense period index: the months frame is period-bounded, so the
    // single-partition window is bounded by construction
    val W = org.apache.spark.sql.expressions.Window
    val months = uv.select(col("__pd")).distinct()
      .withColumn("__m", row_number().over(W.orderBy(col("__pd"))).cast("long") - 1)
    // one panel lineage shuffled once on the self-join key: both sides
    // become identical Exchange subtrees, so ReuseExchange builds the
    // unit-value panel once instead of once per side
    val uvm = uv.join(broadcast(months), Seq("__pd"))
      .repartition(col("__it"))
    val a = uvm.select(col("__it"), col("__m").as("m_a"),
      col("__e").as("__ea"), col("__p").as("__pa"))
    val b = uvm.select(col("__it"), col("__m").as("m_b"),
      col("__e").as("__eb"), col("__p").as("__pb"))
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    def nano(x: Column): Column = round(x * lit(1e9), 0).cast("long")
    val pairs = a.join(b, Seq("__it"))
      .filter(col("m_b") > col("m_a") && col("m_b") <= col("m_a") + maxLag)
      .select(col("m_a"), col("m_b"), micro(col("__ea")).as("__eam"),
        micro(col("__eb")).as("__ebm"), log(col("__pb") / col("__pa")).as("__lr"))
    val Wp = W.partitionBy(col("m_a"), col("m_b"))
    def share(em: Column): Column = em.cast("double") / sum(em).over(Wp).cast("double")
    val sBar = (share(col("__eam")) + share(col("__ebm"))) / lit(2.0)
    pairs
      .select(col("m_a"), col("m_b"), nano(sBar * col("__lr")).as("__tn"))
      .groupBy(col("m_a"), col("m_b"))
      .agg(sum(col("__tn")).as("lnt_nano"))
  }

  /** Integer HALF_UP mean: `round(sum / d)` with ties away from zero —
    * the exact arithmetic Spark's `round` and DuckDB's `round` share, so
    * the driver-side GEKS recurrence replays bit-for-bit in the oracle.
    */
  private def halfUpDiv(s: Long, d: Long): Long =
    java.math.BigDecimal.valueOf(s)
      .divide(java.math.BigDecimal.valueOf(d), 0, java.math.RoundingMode.HALF_UP)
      .longValueExact

  /** In-window GEKS log-index between period indexes `a` and `b`:
    * `round( Σ_{l∈window} (lnT(a,l) + lnT(l,b)) / |window| )`. Exposed
    * for the PriceIndexSpec transitivity law (within one window GEKS is
    * transitive up to quantization: lnG(a,c) = lnG(a,b) + lnG(b,c) ± 1).
    */
  private[graft] def geksLn(lnt: (Int, Int) => Long, window: Range,
                            a: Int, b: Int): Long =
    halfUpDiv(window.map(l => lnt(a, l) + lnt(l, b)).sum, window.size)

  /** The rolling-window mean-splice recurrence on quantized log-indexes
    * (pure integer math — unit-testable without Spark). `lnt` must be
    * defined for |i-j| < window (antisymmetry and the zero diagonal are
    * the CALLER's job). Returns lnP nanos per period index:
    *
    *   - first window W₀ = [0, w):  lnP(t) = lnG_{W₀}(0, t);
    *   - each later T with window W_T = [T-w+1, T]: the MEAN SPLICE on
    *     the published series — every overlap period z revises the
    *     published level through the new window's GEKS movement, and the
    *     geometric mean of those candidates (arithmetic mean in logs)
    *     becomes the published P(T):
    *       lnP(T) = round( Σ_{z∈[T-w+1,T)} (lnP(z) + lnG_{W_T}(z,T)) / (w-1) ).
    *
    * The single-link variants splice on ONE overlap period z instead:
    * `movement` uses z = T-1 (newest — tracks short-term movement,
    * most exposed to window-edge revision), `window` uses z = T-w+1
    * (oldest — replaces the last w-1 links wholesale), and `half` uses
    * z = T - ⌊w/2⌋ (the middle of the overlap — the ONS/Eurostat
    * "half-window splice" compromise between the two; for w=2 it
    * coincides with `movement`). All three are one exact integer add.
    *
    * Sequential by construction (each step reads w-1 published values),
    * but over PERIOD COUNT — time-bounded, never data-bounded — so the
    * driver loop costs microseconds at any corpus size.
    */
  private[graft] def geksSplice(lnt: (Int, Int) => Long, nPeriods: Int,
                                window: Int,
                                method: String = "mean"): Array[Long] = {
    require(window >= 2, "window must be >= 2")
    require(Set("mean", "movement", "window", "half")(method),
      s"unknown splice method '$method' (mean | movement | window | half)")
    val w = math.min(window, nPeriods)
    val lnP = new Array[Long](nPeriods)
    for (tt <- 0 until w)
      lnP(tt) = geksLn(lnt, 0 until w, 0, tt)
    for (tt <- w until nPeriods) {
      val win = (tt - w + 1) to tt
      lnP(tt) = method match {
        case "mean" =>
          // every overlap period revises through the new window; the
          // geometric mean (arithmetic in logs) publishes
          val s = ((tt - w + 1) until tt).map(z => lnP(z) + geksLn(lnt, win, z, tt)).sum
          halfUpDiv(s, w - 1)
        case "movement" =>
          // splice on the newest overlap period: one exact integer add
          lnP(tt - 1) + geksLn(lnt, win, tt - 1, tt)
        case "window" =>
          // splice on the OLDEST in-window period: the full new window's
          // movement replaces the last w-1 steps of history
          lnP(tt - w + 1) + geksLn(lnt, win, tt - w + 1, tt)
        case "half" =>
          // splice halfway back through the overlap (z = T - ⌊w/2⌋):
          // the half-window compromise between movement and window
          lnP(tt - w / 2) + geksLn(lnt, win, tt - w / 2, tt)
      }
    }
    lnP
  }

  /** GEKS-Törnqvist multilateral index with a rolling `window` and mean
    * splice — the multilateral method ONS-style web-scraped/scanner
    * price pipelines feed (the reference's config validation names
    * exactly these pipelines: ons_utils/config/validation.py:106-205).
    * Bilateral Törnqvist indexes between every in-window period pair
    * (transitivized by the GEKS geometric mean) remove chain drift while
    * the rolling window + splice keeps the published series stable as
    * new periods arrive. Returns `(period, geks)` with the first
    * observed period at 1.0.
    *
    * Determinism end-to-end: pairwise log-terms quantize to integer
    * nanos before any sum ([[tornqvistLnPairs]]); the GEKS means and the
    * splice recurrence are integer HALF_UP arithmetic; ONE final `exp`
    * per period, 6-dp emitted.
    *
    * Scale shape: all row-level work (unit values, matched-sample share
    * windows, pair reduction) is distributed and linear in items; only
    * the period²-bounded log-index table reaches the driver (months ×
    * window rows — a few hundred longs for a decade of data), where the
    * inherently sequential splice runs in microseconds.
    *
    * Splice-family coverage: `mean` / `movement` / `window` / `half`
    * span the rolling-window practice ONS methodology papers compare.
    * The remaining published variant, FBEW (fixed base, expanding
    * window: re-base each January and GROW the window through the
    * year), is a calendar policy over the SAME pairwise layer, not a
    * different splice: run this with `window` = the number of periods
    * published so far in the cycle (full-window GEKS — every splice
    * method coincides there) and re-base at each cycle boundary.
    * Wiring that calendar policy in here would need year semantics the
    * generic `periodCol` deliberately doesn't carry.
    */
  /** The collected pairwise log-index table is periods×window rows of
    * driver memory — tiny — while producing it costs a full panel
    * aggregation + self-join. One pair table serves EVERY downstream
    * splice method (that is the production shape: compute bilateral
    * indexes once, publish several splice variants), so it memoizes per
    * (session, canonical input plan, lag) like the IVF/k-means caches.
    */
  /** The memoized value: the collected pairwise rows PLUS the full
    * ordered period list (collected alongside, so a period that happens
    * to appear in no pair row — possible on sparse panels — can never be
    * silently dropped from the published series).
    */
  private case class GeksPairs(pairs: Array[org.apache.spark.sql.Row],
                               periods: Array[String])
  private type GeksKey =
    (org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int)
  private val geksPairsCache =
    new java.util.LinkedHashMap[GeksKey, GeksPairs](16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[GeksKey, GeksPairs]): Boolean =
        size() > 8
    }

  /** Drop the memoized GEKS pair tables — the documented escape hatch for
    * a corpus overwritten IN PLACE within a long-lived session (the memo
    * keys on the input PLAN, which cannot see file contents change), and
    * [[graft.Caches.clearAll]]'s hook so Bench's recorded times equal the
    * work performed. The cached rows hold no executor storage, so
    * clearing the map is the whole job.
    */
  def clearGeksCache(): Unit = geksPairsCache.synchronized { geksPairsCache.clear() }

  private[graft] def geksCacheSize: Int =
    geksPairsCache.synchronized(geksPairsCache.size())

  private def collectedLnPairs(df: DataFrame, itemCol: String, periodCol: Column,
                               expCol: String, qtyCol: String,
                               maxLag: Int): GeksPairs = {
    val projected = tornqvistLnPairs(df, itemCol, periodCol, expCol, qtyCol, maxLag)
      .select(col("m_a").cast("int"), col("m_b").cast("int"), col("lnt_nano"))
    // The key is the canonicalized plan OBJECT (full structural equality
    // on lookup — `sameResult` semantics), not an Int semanticHash: a
    // 32-bit hash alone can collide across distinct plans and silently
    // serve WRONG pairs. (A plan STRING is no better: LocalRelation's
    // toString omits its data.) The cache is bounded at 8 entries, so
    // holding the plan reference is cheap.
    val key = (df.sparkSession, projected.queryExecution.analyzed.canonicalized, maxLag)
    geksPairsCache.synchronized(Option(geksPairsCache.get(key))).getOrElse {
      val fresh = GeksPairs(
        projected.collect(), // bounded: periods × window rows
        Observe.sortedCollect(df.select(periodCol.as("__pdr")).distinct()
          .select(col("__pdr"), col("__pdr").cast("string")), "__pdr").map(_.getString(1)))
      geksPairsCache.synchronized {
        Option(geksPairsCache.get(key)).getOrElse { geksPairsCache.put(key, fresh); fresh }
      }
    }
  }

  def geksIndex(df: DataFrame, itemCol: String, periodCol: Column,
                expCol: String, qtyCol: String,
                window: Int = 13,
                spliceMethod: String = "mean"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val gp = collectedLnPairs(df, itemCol, periodCol, expCol, qtyCol,
      maxLag = window - 1)
    val periods = gp.periods
    val n = periods.length
    // Degenerate panels get explicit semantics instead of an empty/throwing
    // frame: no periods → empty series; one period → the base row at 1.0
    // (an index with nothing to compare IS its base).
    if (n == 0) return Seq.empty[(String, Double)].toDF("period", "geks")
    if (n == 1) return Seq((periods(0), 1.0)).toDF("period", "geks")
    val lntMap = gp.pairs.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // An in-window period pair with an EMPTY matched sample has no
    // defined bilateral index — substituting ratio 1.0 would silently
    // bias the GEKS mean (and diverge from the oracle's inner-join
    // semantics), so it fails fast with the periods named.
    def lnt(i: Int, j: Int): Long =
      if (i == j) 0L
      else {
        val (a, b) = if (i < j) (i, j) else (j, i)
        val v = lntMap.getOrElse((a, b), throw new IllegalArgumentException(
          s"geksIndex: no matched items between periods '${periods(a)}' and " +
            s"'${periods(b)}' (both inside one $window-period window); every " +
            "in-window period pair needs a non-empty matched sample"))
        if (i < j) v else -v
      }
    val lnP = geksSplice(lnt, n, window, spliceMethod)
    val out = (0 until n).map { m =>
      (periods(m),
        BigDecimal(math.exp(lnP(m) / 1e9))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    out.toDF("period", "geks")
  }

  /** Geary-Khamis multilateral index — the other standard multilateral
    * method beside [[geksIndex]] (GK prices the basket at "international
    * prices": a fixed point where each item's reference price π is the
    * quantity-weighted mean of its DEFLATED period prices, and each
    * period's level P is actual expenditure over π-valued expenditure):
    *
    *   πᵢ = Σₜ qᵢₜ·(pᵢₜ/Pₜ) / Σₜ qᵢₜ
    *   Pₜ = Σᵢ pᵢₜ·qᵢₜ / Σᵢ πᵢ·qᵢₜ
    *
    * Solved by up to `iters` rounds of the textbook fixed-point sweep
    * from Pₜ=1, stopping EARLY once the period-level vector moves less
    * than `tol` (max |ΔPₜ| — the vector is already driver-held, so the
    * check is free; `tol = 0` disables it and always pays `iters`).
    * Returns `(period, n_items, gk, iters_run)`, base = first period =
    * 1.0; `iters_run` is the data-dependent sweep count, emitted so the
    * published number carries its own convergence provenance.
    *
    * Determinism INCLUDING the early exit: every per-(item,period) term
    * micro-quantizes before its sum (π and P are ratios of exact BIGINTs
    * each round), so the level vectors are bit-identical doubles in any
    * engine — the `maxDiff < tol` comparison therefore evaluates
    * identically everywhere, and the oracle replays it CTE-for-CTE
    * (each unrolled round carries the previous vector forward once the
    * convergence flag is set; the k-means replay discipline). 6-dp
    * emitted.
    *
    * Scale shape: the (item, period) table is built ONCE and persisted
    * for the sweeps (without it, lazy lineage would re-aggregate the
    * transaction scan twice per round). Each round computes π as an
    * ITEM-PARTITIONED WINDOW over the cached table (π is a per-item
    * ratio every row of the item needs back — the window form computes
    * and re-attaches it in ONE item-keyed exchange, where the
    * aggregate-then-join spelling would shuffle the panel twice per
    * sweep), then one period-keyed reduction: two exchanges per sweep,
    * both linear. The level vector P is period-bounded (time-, not
    * data-sized), so it round-trips through the driver between sweeps
    * as a literal map read per row — the same bounded contract as
    * k-means centers, with no broadcast job per sweep — which also keeps
    * the final plan flat instead of `2·iters` joins deep. The item table
    * never collects.
    */
  def gearyKhamis(df: DataFrame, itemCol: String, periodCol: Column,
                  expCol: String, qtyCol: String,
                  iters: Int = 12, tol: Double = 1e-6): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    val dec = DecimalType(18, 2)
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
      .filter(col("__pd").isNotNull) // a period without a name has no level
      .withColumn("__qm", micro(col("__q")))
      .withColumn("__pqm", micro(col("__p") * col("__q")))
      // persist the panel PRE-partitioned and PRE-sorted on the item key:
      // every sweep's π window then finds its required distribution AND
      // ordering already satisfied in the cache — one exchange+sort paid
      // at build, zero per sweep (iters × panel-shuffle saved)
      .repartition(col("__it"))
      .sortWithinPartitions(col("__it"))
      .persist()
    Observe.releasing(uv) {
      import spark.implicits._
      // each period's item count, and so the period list, in one collect
      val counts = uv.groupBy(col("__pd")).agg(count(lit(1)).as("n_items"))
        .select(col("__pd").cast("string"), col("n_items"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // refuse an empty panel by name (the sweep's convergence .max and the
      // base-period minBy would otherwise die on empty collections)
      require(counts.nonEmpty,
        "gearyKhamis: the price panel is empty — no (item, period) sales to index")
      val Wit = org.apache.spark.sql.expressions.Window.partitionBy(col("__it"))
      // P as driver-held (period, level) rows: period-bounded by definition
      val (pLevels, sweeps) = Observe.iterate("gearyKhamis",
          counts.keys.toSeq.map(pd => (pd, 1.0)), iters) { pLevels =>
        val levelOf = typedLit(pLevels.toMap)
        // π as an item-partitioned window: integer sums partition exactly
        // like the aggregate form (same longs, any order), but the panel
        // shuffles ONCE per sweep instead of aggregate-then-join's twice
        val pi = sum(micro((col("__p") / col("__lv")) * col("__q"))).over(Wit)
          .cast("double") / sum(col("__qm")).over(Wit).cast("double")
        uv.withColumn("__lv", levelOf(col("__pd").cast("string")))
          .withColumn("__pi", pi)
          .groupBy(col("__pd"))
          .agg(sum(col("__pqm")).as("__nu"),
            sum(micro(col("__pi") * col("__q"))).as("__de"))
          .select(col("__pd").cast("string"),
            (col("__nu").cast("double") / col("__de").cast("double")).as("__lv"))
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      } { (prev, next) =>
        // both vectors are bit-identical doubles in the oracle, so this
        // comparison replays exactly there; strict < keeps tol=0 as the
        // "always pay `iters`" switch
        val p = prev.toMap
        next.map { case (pd, lv) => math.abs(lv - p(pd)) }.max < tol
      }
      val lv0 = pLevels.minBy(_._1)._2
      pLevels.sortBy(_._1).map { case (pd, lv) =>
        (pd, counts(pd),
          BigDecimal(lv / lv0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          sweeps.toLong)
      }.toDF("period", "n_items", "gk", "iters_run")
    }
  }

  /** Time-Product-Dummy (TPD) multilateral index — the regression member
    * of the multilateral family ([[geksIndex]], [[gearyKhamis]], this):
    * the fixed-effects model `ln pᵢₜ = δₜ + γᵢ + εᵢₜ` estimated by WLS
    * with expenditure-share weights, published as `exp(δₜ - δ_base)`.
    * Estimation is up to `iters` Gauss-Seidel sweeps of the normal
    * equations (γ⁰=0; a fast-converging alternation), stopping EARLY
    * once the period-effect vector moves less than `tolNanos`
    * (max |Δδₜ| in integer nanos — δ is driver-held, the check is free;
    * `tolNanos = 0` disables it):
    *
    *   δₜ = Σᵢ sᵢₜ·(ln pᵢₜ - γᵢ)          (Σᵢ sᵢₜ = 1 per period)
    *   γᵢ = Σₜ sᵢₜ·(ln pᵢₜ - δₜ) / Σₜ sᵢₜ
    *
    * Returns `(period, n_items, tpd, iters_run)`, base = first period =
    * 1.0; `iters_run` is the data-dependent sweep count.
    *
    * Determinism INCLUDING the early exit: shares are ratios of exact
    * micro BIGINTs; every per-(item,period) term nano-quantizes before
    * its sum, so each δ is an exact BIGINT and each γ an exact-integer
    * ratio — the integer movement check replays verbatim in any engine,
    * and the oracle unrolls the identical sweeps CTE-for-CTE, carrying
    * δ forward once the convergence flag is set. ONE final exp, 6-dp
    * emitted.
    *
    * Scale shape: the (item, period) table persists once; δ is
    * period-bounded and round-trips the driver as literals (the k-means
    * center contract). γ is ITEM-keyed, and because each γ depends only
    * on the CACHED table plus a δ literal (never on the previous γ
    * directly), it computes as an item-partitioned WINDOW inside the
    * same sweep plan — every row of the item needs γ back, and the
    * window form computes and re-attaches it in ONE item-keyed
    * exchange where aggregate-then-join would shuffle the panel twice.
    * Each sweep is a single distributed job: δ read from a literal map →
    * item-window γ → period-keyed δ reduction. No inter-sweep caching
    * needed.
    */
  def timeProductDummy(df: DataFrame, itemCol: String, periodCol: Column,
                       expCol: String, qtyCol: String,
                       iters: Int = 12, tolNanos: Long = 1000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val dec = DecimalType(18, 2)
    def nano(x: Column): Column = round(x * lit(1e9), 0).cast("long")
    val uv0 = df
      .groupBy(col(itemCol).as("__it"), periodCol.cast("string").as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .filter(col("__pd").isNotNull) // a period without a name has no effect
      .select(col("__it"), col("__pd"),
        log(col("__S").cast("double") / col("__Q").cast("double")).as("__lnp"),
        round(col("__S").cast("double") * lit(1e6), 0).cast("long").as("__em"))
    // per-period expenditure totals and item counts in one collect:
    // period-bounded — literal-attach
    val totals = uv0.groupBy(col("__pd"))
      .agg(sum(col("__em")).as("__tot"), count(lit(1)).as("n_items"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // refuse an empty panel by name (the sweep-2 convergence .max and the
    // base-period minBy would otherwise die on empty collections)
    require(totals.nonEmpty,
      "tpdIndex: the price panel is empty — no (item, period) sales to index")
    val counts = totals.map(t => t._1 -> t._3).toMap
    val uv = uv0
      .join(broadcast(totals.map(t => (t._1, t._2)).toDF("__pd", "__tot")), Seq("__pd"))
      .select(col("__it"), col("__pd"), col("__lnp"),
        (col("__em").cast("double") / col("__tot").cast("double")).as("__s"),
        nano(col("__em").cast("double") / col("__tot").cast("double")).as("__sn"))
      // pre-partition/sort on item (the GK comment above): each sweep's γ
      // window runs exchange-free and sort-free off the cache
      .repartition(col("__it"))
      .sortWithinPartitions(col("__it"))
      .persist()
    Observe.releasing(uv) {
      val Wit = org.apache.spark.sql.expressions.Window.partitionBy(col("__it"))
      // period -> δ nanos; sweep 1 starts from γ = 0
      val (deltas, sweeps) = Observe.iterate("timeProductDummy",
          Seq.empty[(String, Long)], iters) { deltas =>
        val resid =
          if (deltas.isEmpty) uv.withColumn("__g", lit(0.0))
          else {
            // γ from the PREVIOUS δ as an item-partitioned window: the
            // exact integer sums partition identically to the old
            // aggregate-then-join form, but the panel shuffles once
            val deltaOf = typedLit(deltas.toMap)
            uv.withColumn("__dnano", deltaOf(col("__pd")))
              .withColumn("__g",
                sum(nano(col("__s") * (col("__lnp")
                    - col("__dnano").cast("double") / lit(1e9)))).over(Wit)
                  .cast("double") / sum(col("__sn")).over(Wit).cast("double"))
          }
        resid
          .groupBy(col("__pd"))
          .agg(sum(nano(col("__s") * (col("__lnp") - col("__g")))).as("__dn"))
          .collect().map(row => (row.getString(0), row.getLong(1))).toSeq
      } { (prev, next) =>
        // δ are exact BIGINT nanos in any engine, so the integer movement
        // check replays verbatim in the oracle; sweep 1 has no previous
        // vector to compare against
        val p = prev.toMap
        prev.nonEmpty && next.map { case (pd, dn) => math.abs(dn - p(pd)) }.max < tolNanos
      }
      val dBase = deltas.minBy(_._1)._2
      deltas.sortBy(_._1).map { case (pd, dn) =>
        (pd, counts(pd),
          BigDecimal(math.exp((dn - dBase) / 1e9))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          sweeps.toLong)
      }.toDF("period", "n_items", "tpd", "iters_run")
    }
  }

  /** Per-period matched-sample indexes vs `basePeriod`:
    * `(period, n_items, laspeyres, paasche, fisher)`, base period
    * included (its indexes are 1.0 by construction).
    */
  def bilateralIndexes(df: DataFrame, itemCol: String, periodCol: Column,
                       expCol: String, qtyCol: String,
                       basePeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    val ratio = (num: String, den: String) =>
      col(num).cast("double") / col(den).cast("double")
    attachBase(uv, basePeriod, Seq("__it"),
        Seq("__p" -> "__p0", "__q" -> "__q0"))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"),
        sum(micro(col("__p") * col("__q0"))).as("__numL"),
        sum(micro(col("__p0") * col("__q0"))).as("__denL"),
        sum(micro(col("__p") * col("__q"))).as("__numP"),
        sum(micro(col("__p0") * col("__q"))).as("__denP"))
      .select(col("__pd").as("period"), col("n_items"),
        round(ratio("__numL", "__denL"), 6).as("laspeyres"),
        round(ratio("__numP", "__denP"), 6).as("paasche"),
        round(sqrt(ratio("__numL", "__denL") * ratio("__numP", "__denP")), 6)
          .as("fisher"))
  }

  /** Bortkiewicz decomposition of the Laspeyres–Paasche gap: with
    * base-value weights wᵢ = p₀q₀, price relatives rᵢ = pₜ/p₀ and
    * quantity relatives sᵢ = qₜ/q₀,
    *
    *   P_P / P_L = 1 + Cov_w(r, s) / (r̄·s̄)
    *
    * — the gap IS the weighted covariance of price and quantity
    * relatives: consumers substituting away from price rises
    * (negative correlation) is exactly what drags Paasche below
    * Laspeyres. Per period:
    * `(period, n_items, laspeyres, q_laspeyres, paasche_implied,
    * gap_pct, corr_rs)` — paasche here is the identity-implied value
    * (bit-equal to the direct one up to the shared quantization);
    * corr_rs is the weighted correlation, null when either relative
    * is constant.
    *
    * Determinism: unit values are exact decimal ratios; the six
    * weighted sums (Σw, Σwr, Σws, Σwrs, Σwr², Σws²) micro-quantize
    * per item before the period aggregation, so the mean-cleared
    * covariance/correlation close is one fixed IEEE tree.
    *
    * Scale shape: the [[bilateralIndexes]] contract — ONE
    * (item, period) aggregation over the transaction scan, an
    * item-bounded base join (AQE broadcast), one period reduction.
    */
  def bortkiewicz(df: DataFrame, itemCol: String, periodCol: Column,
                  expCol: String, qtyCol: String,
                  basePeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    val j = attachBase(uv, basePeriod, Seq("__it"),
      Seq("__p" -> "__p0", "__q" -> "__q0"))
    val w = col("__p0") * col("__q0")
    val r = col("__p") / col("__p0")
    val sRel = col("__q") / col("__q0")
    val agg = j.groupBy(col("__pd")).agg(
      count(lit(1)).as("n_items"),
      sum(micro(w)).as("__w"),
      sum(micro(w * r)).as("__wr"),
      sum(micro(w * sRel)).as("__ws"),
      sum(micro(w * r * sRel)).as("__wrs"),
      sum(micro(w * r * r)).as("__wrr"),
      sum(micro(w * sRel * sRel)).as("__wss"))
    def d(c: String): Column = col(c).cast("double")
    val rBar = d("__wr") / d("__w")
    val sBar = d("__ws") / d("__w")
    val cov = d("__wrs") / d("__w") - rBar * sBar
    val varR = d("__wrr") / d("__w") - rBar * rBar
    val varS = d("__wss") / d("__w") - sBar * sBar
    val gap = cov / (rBar * sBar)
    agg.select(col("__pd").as("period"), col("n_items"),
      round(rBar, 6).as("laspeyres"),
      round(sBar, 6).as("q_laspeyres"),
      round(rBar * (lit(1.0) + gap), 6).as("paasche_implied"),
      round(gap, 6).as("gap_pct"),
      when(varR > 0.0 && varS > 0.0,
        round(cov / sqrt(varR * varS), 6)).as("corr_rs"))
  }

  /** Lowe and Young indexes vs `basePeriod` with weights drawn from a
    * separate `weightPeriod` — the price-reference / weight-reference
    * split every production CPI runs on (the UK CPI is an annually
    * re-weighted Lowe index; Young is its arithmetic-mean-of-relatives
    * sibling). Distinct from [[bilateralIndexes]], whose Laspeyres
    * collapses weight period onto base period.
    *
    *   Lowe(0,t;b)  = Σ p_t·q_b / Σ p_0·q_b
    *   Young(0,t;b) = Σ s_b·(p_t/p_0) / Σ s_b   with s_b = p_b·q_b
    *
    * Matched sample = items trading in ALL of base, weight, and current
    * period (triple inner join — the production matched-basket rule).
    * Per-item terms quantize to integer micros before the period sums,
    * so the aggregation is associative/commutative (exact under any
    * partitioning); one double division + 6-dp round at the end.
    *
    * Scale shape: one unit-value aggregation (the only data-sized
    * shuffle), then two item-keyed joins against period-sliced frames
    * that are both tiny (items trading in ONE period) and
    * broadcast-eligible; the period rollup is map-side combined.
    *
    * @return (period, n_items, lowe, young), base period included
    *         (both indexes exactly 1.0 there by construction)
    */
  def loweYoung(df: DataFrame, itemCol: String, periodCol: Column,
                expCol: String, qtyCol: String,
                basePeriod: String, weightPeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    val ratio = (num: String, den: String) =>
      col(num).cast("double") / col(den).cast("double")
    // two reference slices in ONE window pass (r15): items must appear
    // in BOTH periods, exactly the old double inner join, but the panel
    // pays a single item-keyed WindowExec instead of two chained ones
    attachRefs(uv, Seq("__it"), Seq(
        basePeriod -> Seq("__p" -> "__p0"),
        weightPeriod -> Seq("__p" -> "__pb", "__q" -> "__qb")))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"),
        sum(micro(col("__p") * col("__qb"))).as("__numLo"),
        sum(micro(col("__p0") * col("__qb"))).as("__denLo"),
        sum(micro(col("__pb") * col("__qb") * (col("__p") / col("__p0")))).as("__numY"),
        sum(micro(col("__pb") * col("__qb"))).as("__denY"))
      .select(col("__pd").as("period"), col("n_items"),
        round(ratio("__numLo", "__denLo"), 6).as("lowe"),
        round(ratio("__numY", "__denY"), 6).as("young"))
  }

  /** Per-item contributions to the Laspeyres index change vs
    * `basePeriod` — the decomposition behind every "what drove this
    * month's rate" publication table. For the matched basket,
    *
    *   contrib_i(t) = 100 · (p_t·q_0 − p_0·q_0)_i / Σ_j (p_0·q_0)_j
    *
    * in index points, so Σ_i contrib_i(t) = 100·(Laspeyres(t) − 1)
    * exactly against [[bilateralIndexes]]' matched-sample Laspeyres
    * (additivity is the point of the Laspeyres decomposition;
    * Fisher/geometric indexes don't admit one). The denominator is the
    * PER-PERIOD matched-basket base expenditure — the matched set at t
    * is items trading in both base and t, so the divisor must follow it
    * or the contributions stop summing to the index change.
    *
    * Same micro-quantization discipline as [[bilateralIndexes]]: both
    * numerator terms are per-item integer micros, the denominator an
    * integer sum of the same terms, so contributions are exact before
    * the single 6-dp round.
    *
    * Scale shape: unit-value aggregation, one broadcast-eligible join
    * onto the base slice, a period-count-sized denominator frame
    * attached by broadcast join on the period key, no whole-frame
    * window.
    *
    * @return (period, item, contrib_pts) for every matched (period,
    *         item); filter/top-k downstream — the full decomposition is
    *         the operator's contract
    */
  def laspeyresContributions(df: DataFrame, itemCol: String, periodCol: Column,
                             expCol: String, qtyCol: String,
                             basePeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    // panel-bounded and read twice (denominator + contributions):
    // materialize the one-scan window build once
    val matched = attachBase(uv, basePeriod, Seq("__it"),
      Seq("__p" -> "__p0", "__q" -> "__q0")).localCheckpoint()
    val den = matched.groupBy(col("__pd"))
      .agg(sum(micro(col("__p0") * col("__q0"))).as("__den"))
    matched
      .join(broadcast(den), Seq("__pd"))
      .select(col("__pd").as("period"), col("__it").as("item"),
        round(lit(100.0)
            * (micro(col("__p") * col("__q0")) - micro(col("__p0") * col("__q0")))
              .cast("double")
            / col("__den").cast("double"), 6)
          .as("contrib_pts"))
  }

  /** Hedonic quality-adjusted index — the CPI answer to "did the PRICE
    * change, or did the PRODUCT?" (laptops gain RAM, the raw Jevons
    * conflates the two; ONS web-scraped pipelines hedonically strip the
    * characteristic effect first). Frisch-Waugh spelling with a
    * categorical fixed effect:
    *
    *   1. y = ln(priceNum/priceDen) per transaction, as a DIFFERENCE of
    *      integer-argument lns (the ln 1e6 quantization offsets cancel);
    *   2. demean y and the characteristic WITHIN each `fe` level
    *      (brand/model fixed effect, absorbed by demeaning — no dummy
    *      matrix, no solver);
    *   3. one pooled OLS slope β on the demeaned pairs (the hedonic
    *      shadow price of the characteristic);
    *   4. quality-adjust a = y − β·x and index_t = exp(mean_t(a) −
    *      mean_base(a)) against the FIRST period.
    *
    * Returns one row per period `(period, n, beta, index)`, 6 dp
    * (beta repeated — it is the model, one number). Degenerate inputs:
    * zero characteristic variance after demeaning → β = 0 (the
    * unadjusted dual of Jevons), never a null index.
    *
    * Determinism: y nano-quantizes from integer-arg lns; demeaned
    * values re-quantize to exact longs BEFORE the β moments and the
    * period means (the cross-group discipline); β is one double
    * division of exact decimals; each index is one exp of a difference
    * of exact-integer means.
    *
    * Scale shape: one (fe)-partitioned window family over the
    * transaction projection (no join-back, no second scan), one grand
    * β aggregate riding a 1-row broadcast, one period-keyed
    * map-combined reduction, and a period-bounded base-row attach via
    * a grand min-struct aggregate. No data-sized joins anywhere.
    */
  def hedonicIndex(df: DataFrame, periodCol: Column, fe: Column,
                   characteristic: Column, priceNum: Column,
                   priceDen: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val pm = round(priceNum * lit(1e6), 0).cast(dec)
    val qm = round(priceDen * lit(1e6), 0).cast(dec)
    val base = df.select(periodCol.as("__pd"), fe.as("__fe"),
        round(characteristic * lit(1e6), 0).cast(dec).as("__s"),
        pm.as("__pm"), qm.as("__qm"))
      .filter(col("__pd").isNotNull && col("__fe").isNotNull &&
        col("__s").isNotNull && col("__pm") > 0 && col("__qm") > 0)
      .withColumn("__y",
        round((log(col("__pm").cast("double")) - log(col("__qm").cast("double")))
          * lit(1e9), 0).cast(dec))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(col("__fe"))
    val withMeans = base.select(col("__pd"), col("__s"), col("__y"),
      count(lit(1)).over(W).cast(dec).as("__n"),
      sum(col("__y")).over(W).as("__sy"),
      sum(col("__s")).over(W).as("__ss"))
    // demeaned, re-quantized to exact integers (nanos / micros)
    val demeaned = withMeans.select(col("__pd"),
      round(col("__y").cast("double")
        - col("__sy").cast("double") / col("__n").cast("double"), 0)
        .cast(dec).as("__yd"),
      round(col("__s").cast("double")
        - col("__ss").cast("double") / col("__n").cast("double"), 0)
        .cast(dec).as("__sd"),
      col("__y"), col("__s"))
    val beta = demeaned.agg(
      sum(col("__yd") * col("__sd")).as("__num"),
      sum(col("__sd") * col("__sd")).as("__den"))
    // β in nanos-per-micro = 1e3 × real slope; adjusted values stay nanos
    val bRaw = when(col("__den") > 0,
      col("__num").cast("double") / col("__den").cast("double")).otherwise(lit(0.0))
    val adjusted = demeaned.crossJoin(broadcast(beta))
      .select(col("__pd"),
        round(col("__y").cast("double") - bRaw * col("__s").cast("double"), 0)
          .cast(dec).as("__a"),
        bRaw.as("__b"))
    val perPeriod = adjusted.groupBy(col("__pd"))
      .agg(count(lit(1)).as("n"), sum(col("__a")).as("__sa"),
        first(col("__b")).as("__b"))
      .withColumn("__am",
        col("__sa").cast("double") / col("n").cast("double"))
    val base0 = perPeriod.agg(min(struct(col("__pd"), col("__am"))).as("__b0"))
      .select(col("__b0.__am").as("__am0"))
    perPeriod.crossJoin(broadcast(base0))
      .select(col("__pd").as("period"), col("n"),
        round(col("__b") / lit(1e3), 6).as("beta"),
        round(exp((col("__am") - col("__am0")) / lit(1e9)), 6).as("index"))
  }

  /** Matched-sample unit-value table joined to its base basket — the
    * shared spine of the weighted-formula family: per (item, period),
    * exact-decimal unit values and expenditures on BOTH ends plus
    * micro-quantized per-period expenditure totals for the shares
    * (window sums of exact longs — never raw-double window sums).
    * Columns: `__pd, __p, __q, __e, __p0, __q0, __e0, __totm, __totm0`
    * (`__totm*` = period expenditure totals in micro units; NOT named
    * `__E` — Spark's default case-insensitive resolution would collide
    * it with `__e`).
    */
  private def uvWithBase(df: DataFrame, itemCol: String, periodCol: Column,
                         expCol: String, qtyCol: String,
                         basePeriod: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val uv = df
      .groupBy(col(itemCol).as("__it"), periodCol.as("__pd"))
      .agg(sum(col(expCol).cast(dec)).as("__S"), sum(col(qtyCol).cast(dec)).as("__Q"))
      .select(col("__it"), col("__pd"), col("__S").cast("double").as("__e"),
        (col("__S").cast("double") / col("__Q").cast("double")).as("__p"),
        col("__Q").cast("double").as("__q"))
    val W = org.apache.spark.sql.expressions.Window.partitionBy(col("__pd"))
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    attachBase(uv, basePeriod, Seq("__it"),
        Seq("__e" -> "__e0", "__p" -> "__p0", "__q" -> "__q0"))
      .select(col("__pd"), col("__p"), col("__q"), col("__e"),
        col("__p0"), col("__q0"), col("__e0"),
        sum(micro(col("__e"))).over(W).as("__totm"),
        sum(micro(col("__e0"))).over(W).as("__totm0"))
  }

  /** The remaining textbook weighted bilaterals vs `basePeriod` —
    * the formula-sensitivity sweep beside [[bilateralIndexes]]
    * (Laspeyres/Paasche/Fisher) and [[superlativeIndexes]]
    * (Törnqvist/Walsh): per period,
    * `(period, n_items, marshall_edgeworth, palgrave, geom_laspeyres,
    * harmonic_laspeyres)` where
    *
    *   ME    = Σ pₜ(q₀+qₜ) / Σ p₀(q₀+qₜ)   (pooled-basket)
    *   Palg  = Σ sₜ·(pₜ/p₀)                (current-share arithmetic)
    *   GL    = exp(Σ s₀·ln(pₜ/p₀))         (base-share geometric)
    *   HL    = 1 / Σ s₀·(p₀/pₜ)            (base-share harmonic)
    *
    * — the CPI-manual ordering HL ≤ GL ≤ Laspeyres ≤ Palgrave under
    * normal substitution, the spread a formula-choice decision reads.
    *
    * Determinism: unit values are exact-decimal ratios; ME's p·q terms
    * and the share numerators micro-quantize per item before the period
    * sums (exact longs at any parallelism); Palgrave/GL/HL per-item
    * terms nano-quantize; the single final exp/division lands on
    * identical arguments in every engine (the q_outliers
    * round-both-sides rule, 6 dp).
    *
    * Scale shape: the [[bilateralIndexes]] contract — ONE (item, period)
    * aggregation over the transaction scan, an item-bounded base join
    * (AQE broadcast), period-keyed window + reduction sharing one
    * exchange. Row-level data is never touched after the first shuffle.
    */
  def extendedBilateral(df: DataFrame, itemCol: String, periodCol: Column,
                        expCol: String, qtyCol: String,
                        basePeriod: String): DataFrame = {
    val j = uvWithBase(df, itemCol, periodCol, expCol, qtyCol, basePeriod)
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    def nano(x: Column): Column = round(x * lit(1e9), 0).cast("long")
    val st = micro(col("__e")).cast("double") / col("__totm").cast("double")
    val s0 = micro(col("__e0")).cast("double") / col("__totm0").cast("double")
    val r = col("__p") / col("__p0")
    j.select(col("__pd"),
        micro(col("__p") * (col("__q0") + col("__q"))).as("__men"),
        micro(col("__p0") * (col("__q0") + col("__q"))).as("__med"),
        nano(st * r).as("__pal"),
        nano(s0 * log(r)).as("__gl"),
        nano(s0 / r).as("__hl"))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("__men")).as("__n"), sum(col("__med")).as("__d"),
        sum(col("__pal")).as("__p"), sum(col("__gl")).as("__g"),
        sum(col("__hl")).as("__h"))
      .select(col("__pd").as("period"), col("n_items"),
        round(col("__n").cast("double") / col("__d").cast("double"), 6)
          .as("marshall_edgeworth"),
        round(col("__p").cast("double") / lit(1e9), 6).as("palgrave"),
        round(exp(col("__g").cast("double") / lit(1e9)), 6).as("geom_laspeyres"),
        round(lit(1e9) / col("__h").cast("double"), 6).as("harmonic_laspeyres"))
  }

  /** Sato–Vartia (Vartia-II) index vs `basePeriod` — the ideal
    * log-change index: geometric mean of price relatives under
    * normalized LOGARITHMIC-MEAN share weights,
    *
    *   w_i = L(sₜᵢ, s₀ᵢ) = (sₜᵢ − s₀ᵢ)/(ln sₜᵢ − ln s₀ᵢ)   (= sₜᵢ when equal)
    *   P_SV = exp( Σ w·ln(pₜ/p₀) / Σ w )
    *
    * — exactly consistent in aggregation for CES preferences and the
    * standard cross-check beside [[superlativeIndexes]]' Törnqvist
    * (which uses arithmetic-mean shares; the two diverge only when
    * shares move a lot). Per period:
    * `(period, n_items, sato_vartia, w_sum)` — `w_sum` (≤ 1 by
    * concavity, = 1 only when shares are static) is emitted so the
    * normalization is visible.
    *
    * Determinism: shares are IEEE ratios of micro-quantized window
    * totals (exact longs); each w and w·ln r nano-quantizes per item
    * before the period sums; the final division-of-sums and exp land
    * on identical arguments in every engine, 6 dp.
    *
    * Scale shape: identical to [[extendedBilateral]] — one
    * (item, period) shuffle, broadcast base, window + reduction on the
    * period key.
    */
  def satoVartia(df: DataFrame, itemCol: String, periodCol: Column,
                 expCol: String, qtyCol: String,
                 basePeriod: String): DataFrame = {
    val j = uvWithBase(df, itemCol, periodCol, expCol, qtyCol, basePeriod)
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    def nano(x: Column): Column = round(x * lit(1e9), 0).cast("long")
    val st = micro(col("__e")).cast("double") / col("__totm").cast("double")
    val s0 = micro(col("__e0")).cast("double") / col("__totm0").cast("double")
    // logarithmic mean, with the equal-shares limit taken explicitly on
    // the QUANTIZED micro shares (so "equal" is engine-exact, never a
    // float-boundary call)
    val stM = micro(col("__e")).cast("double") * lit(1e6) / col("__totm").cast("double")
    val s0M = micro(col("__e0")).cast("double") * lit(1e6) / col("__totm0").cast("double")
    val w = when(round(stM, 0) === round(s0M, 0), st)
      .otherwise((st - s0) / (log(st) - log(s0)))
    val lnR = log(col("__p") / col("__p0"))
    j.select(col("__pd"), nano(w).as("__w"), nano(w * lnR).as("__wl"))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"), sum(col("__w")).as("__sw"),
        sum(col("__wl")).as("__swl"))
      .select(col("__pd").as("period"), col("n_items"),
        round(exp(col("__swl").cast("double") / col("__sw").cast("double")), 6)
          .as("sato_vartia"),
        round(col("__sw").cast("double") / lit(1e9), 6).as("w_sum"))
  }

  /** Lloyd–Moulton CES index vs `basePeriod` —
    *
    *   P_LM(σ) = ( Σ s₀·(pₜ/p₀)^(1−σ) )^(1/(1−σ)),   σ ≠ 1
    *
    * the constant-elasticity-of-substitution family that interpolates
    * the whole formula spectrum: σ = 0 is Laspeyres, σ → 1 is geometric
    * Laspeyres, σ = 2 is Palgrave's harmonic mirror. Published CPI
    * practice uses it to correct substitution bias in REAL TIME (it
    * needs only base-period shares — no current quantities), with σ
    * estimated so P_LM tracks the retrospective superlative. Per
    * period: `(period, n_items, lloyd_moulton)`.
    *
    * Determinism: shares are IEEE ratios of exact micro totals; each
    * s₀·r^(1−σ) term nano-quantizes before the period sum; the final
    * pow takes identical (exact-sum/1e9, 1/(1−σ)) arguments in every
    * engine (round-both-sides at 6 dp absorbs libm ULP drift, the
    * Jevons rule).
    *
    * Scale shape: identical to [[extendedBilateral]].
    */
  def lloydMoulton(df: DataFrame, itemCol: String, periodCol: Column,
                   expCol: String, qtyCol: String, basePeriod: String,
                   sigma: Double): DataFrame = {
    require(sigma != 1.0 && sigma.isFinite,
      s"sigma must be finite and != 1 (use geom_laspeyres at sigma=1): $sigma")
    val j = uvWithBase(df, itemCol, periodCol, expCol, qtyCol, basePeriod)
    def micro(x: Column): Column = round(x * lit(1e6), 0).cast("long")
    def nano(x: Column): Column = round(x * lit(1e9), 0).cast("long")
    val s0 = micro(col("__e0")).cast("double") / col("__totm0").cast("double")
    val r = col("__p") / col("__p0")
    j.select(col("__pd"), nano(s0 * pow(r, lit(1.0 - sigma))).as("__t"))
      .groupBy(col("__pd"))
      .agg(count(lit(1)).as("n_items"), sum(col("__t")).as("__s"))
      .select(col("__pd").as("period"), col("n_items"),
        round(pow(col("__s").cast("double") / lit(1e9),
          lit(1.0 / (1.0 - sigma))), 6).as("lloyd_moulton"))
  }
}
