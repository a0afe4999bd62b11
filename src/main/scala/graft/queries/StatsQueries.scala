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

/** Statistics / data-quality family: drift, outliers, sketches, profiling, audit queries.
  *
  * Query defs + their DuckDB oracle SQL, split out of the former
  * monolithic SparkEntry (registry semantics unchanged — the maps merge
  * in [[graft.SparkEntry]]).
  */
object StatsQueries {

  /** Per-dimension embedding drift ([[graft.ops.Drift.psiPerDim]]): PSI
    * between the label-0 and label-1 embedding populations across all 64
    * dimensions — the monitoring pass an embedding pipeline runs on
    * every encoder change. The labels are cluster-correlated in the
    * synthetic embeddings, so per-dimension PSI carries real signal
    * (0.05-0.97 at sf0.01) — drifted dimensions stand out by an order
    * of magnitude.
    */
  private def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Drift.psiPerDim(
        e.filter(col("label") === 0).select(col("embedding")),
        e.filter(col("label") === 1).select(col("embedding")),
        "embedding", Seq(-0.2, -0.1, -0.05, 0.0, 0.05, 0.1, 0.2))
      .orderBy(col("dim"))
  }

  /** Vocabulary drift ([[graft.ops.Drift.psiCategorical]]): token-level
    * PSI between the src0 and src1 document populations over src0's
    * top-20 tokens + OTHER — the text-input sibling of q_embed_drift
    * (tokenizer swaps and source-mix changes surface here first).
    */
  private def qVocabDrift(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    def toks(src: String) = d.filter(col("source") === src)
      .select(explode(TextStats.tokens(col("text"))).as("token"))
    graft.ops.Drift.psiCategorical(toks("src0"), toks("src1"), "token", topN = 20)
      .orderBy(col("category"))
  }

  /** Multi-column profile (nulls, exact distinct, min/max; Expand-free
    * two-scan shape, see [[graft.ops.Profile]]).
    */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    Profile.profile(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_discount", "l_returnflag", "l_linenumber"))
      .orderBy(col("col_name"))

  /** Exact fixed-width histogram ([[Profile.histogram]]) of lineitem
    * extended prices over [20000, 80000) ×16 bins — under/overflow bins
    * exercised on both tails.
    */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    Profile.histogram(t(s, dir, "lineitem"), "l_extendedprice", 20000.0, 80000.0, 16)
      .orderBy(col("bin"))

  /** Per-group mean imputation ([[graft.ops.Impute.imputePerGroup]]):
    * error events' values are masked to null, then imputed from each
    * user's exact-decimal mean of the present values. Output pins the
    * fill value per user (all imputed rows share it) plus the present
    * sum, so a wrong window frame, leaked null, or drifted mean all
    * surface.
    */
  private def qImpute(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
    graft.ops.Impute.imputePerGroup(e, Seq("user_id"), "v", "mean")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_imputed"),
        min(when(col("v").isNull, col("v_imputed"))).as("fill_value"),
        dsum(col("v")).as("sum_present"),
      )
      .orderBy(col("user_id"))
  }

  /** Incremental aggregation ([[graft.ops.Incremental]]): three disjoint
    * order batches folded through aggState → mergeState → mergeState; the
    * oracle aggregates the whole table directly, so agreement proves
    * merge ≡ recompute down to the last decimal bit.
    */
  private def qIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental.{aggState, mergeState, MAgg}
    val o = t(s, dir, "orders")
    val keys = Seq("o_orderpriority")
    val aggs = Seq(MAgg("o_totalprice", "sum"), MAgg("o_totalprice", "count"),
      MAgg("o_totalprice", "min"), MAgg("o_totalprice", "max"))
    def batch(i: Int) = o.filter(col("o_orderkey") % 3 === i)
    val merged = mergeState(
      mergeState(aggState(batch(0), keys, aggs), batch(1), keys, aggs),
      batch(2), keys, aggs)
    merged.select(
        col("o_orderpriority"),
        col("count_o_totalprice").as("n"),
        col("sum_o_totalprice").cast("double").as("sum_total"),
        col("min_o_totalprice").as("min_total"),
        col("max_o_totalprice").as("max_total"))
      .orderBy(col("o_orderpriority"))
  }

  /** Count-min sketch validation (the frequency sibling of q_hll's HLL
    * check): a 0.1%-width CMS over the token stream must bound every
    * top-10 token's true count from above within eps·N, and never
    * undercount (CMS's one-sided guarantee). Deterministic under the
    * fixed seed; violations = 0 (oracle SELECT 0). The sketch itself is
    * a few KB — aggregate it distributed, read it driver-side: the
    * mergeable-sketch pattern for 100 TB frequency monitoring.
    */
  private def qCms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = t(s, dir, "documents")
      .select(explode(TextStats.tokens(col("text"))).as("w"))
    val top = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(10).collect()
    val eps = 0.001
    // one pass supplies the token count AND the sketch (a second scan
    // for count() would re-tokenize the corpus)
    val aggRow = toks
      .agg(count(lit(1)).as("n"),
        count_min_sketch(col("w"), lit(eps), lit(0.99), lit(42)).as("sk"))
      .head()
    val n = aggRow.getAs[Long]("n")
    val bytes = aggRow.getAs[Array[Byte]]("sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    // The eps·N overcount bound holds per estimate only with the sketch's
    // 0.99 confidence; testing 10 tokens at exactly eps·N would fail a
    // CORRECT sketch on ~1 in 10 fixtures. 2·eps·N keeps the check
    // meaningful (undercounting is still impossible and the width is
    // still 0.2% of N) while the spill-past-2eps probability is
    // negligible. Deterministic for a given fixture under seed 42.
    val violations = top.count { r =>
      val est = cms.estimateCount(r.getString(0))
      est < r.getLong(1) || est > r.getLong(1) + (2 * eps * n).ceil.toLong
    }
    Seq(violations.toLong).toDF("n_violations")
  }

  /** Sketch-bound validation for approximate quantiles (completing the
    * HLL/CMS family): each percentile_approx value must admit SOME rank
    * within the Greenwald-Khanna guarantee `|rank − q·n| ≤ n/accuracy`
    * (+1 row of integer slack). A duplicated value's valid ranks form
    * the interval [count(x < v), count(x ≤ v)] — the check passes iff
    * that interval intersects the GK window, so heavy duplicates at a
    * quantile boundary cannot spuriously fire it. Deterministic sketch,
    * violations = 0.
    */
  private def qQuantileBound(s: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val acc = 10000
    val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
    val approx = Profile.quantiles(li, Seq("x"), qs, acc)
      .select(posexplode(col("quantiles")).as(Seq("qi", "qv")))
    val qArr = array(qs.map(lit): _*)
    val slack = col("n").cast("double") / acc + 1.0
    val target = col("q") * col("n")
    li.crossJoin(broadcast(approx))
      .groupBy(col("qi"), col("qv"))
      .agg(
        sum(when(col("x") < col("qv"), 1L).otherwise(0L)).as("rank_lo"),
        sum(when(col("x") <= col("qv"), 1L).otherwise(0L)).as("rank_hi"),
        count(lit(1)).as("n"))
      .withColumn("q", try_element_at(qArr, col("qi") + 1))
      .agg(coalesce(sum(when(
        col("rank_lo") > target + slack || col("rank_hi") < target - slack, 1L)
        .otherwise(0L)), lit(0L)).as("n_violations"))
  }

  /** Robust outlier gate ([[graft.ops.Outliers]]): per-status Tukey
    * fences from EXACT quartiles (single-pass percentile aggregate, no
    * sort), bounds broadcast back onto rows, outliers counted. Quantile
    * interpolation uses exact powers-of-two fractions, so the fences are
    * bit-identical to the DuckDB oracle's `quantile_cont`.
    */
  private def qOutliers(s: SparkSession, dir: String): DataFrame = {
    // Flags are computed against the RAW fences (straddle odds ~1e-15);
    // the emitted q1/q3/lo/hi are INTEGER MICRO UNITS on both sides:
    // round(x, 6) doubles diverged across engines for a fence sitting on
    // a rounding boundary (two red rounds), while the micro grid is safe
    // because the quantiles are quarter-cent multiples, so x*1e6 lands
    // thousands of ulps away from any .5 boundary.
    def micro(c: Column): Column = round(c * lit(1e6), 0).cast("long")
    graft.ops.Outliers.flagIqrOutliers(
        t(s, dir, "orders"), Seq("o_orderstatus"), "o_totalprice")
      .groupBy(col("o_orderstatus"))
      .agg(micro(first(col("q1"))).as("q1_micro"), micro(first(col("q3"))).as("q3_micro"),
        micro(first(col("lo"))).as("lo_micro"), micro(first(col("hi"))).as("hi_micro"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("o_orderstatus"))
  }

  /** Exact-moment Pearson correlation in long form
    * ([[graft.ops.Profile.corrExact]]): decimal moment sums (order-free,
    * partial-agg-safe), closed-form r in one deterministic double
    * expression — streaming `corr()` could never hash-match across
    * engines.
    */
  private def qCorr(s: SparkSession, dir: String): DataFrame =
    // All three columns are 2-dp fixed point, so the scaled-long fast
    // path applies: moments become codegen long products feeding compact
    // decimal sums (3.7s → ~1s at sf0.1 vs the double→BigDecimal path).
    // r is scale-invariant; it is emitted rounded to 12 dp because the
    // final int128→double casts differ in the last ulp across engines.
    Profile.corrExactScaled(t(s, dir, "lineitem"), Seq("l_returnflag"),
        Seq("l_quantity" -> "l_extendedprice", "l_quantity" -> "l_discount",
          "l_extendedprice" -> "l_discount"),
        Map("l_quantity" -> 2, "l_extendedprice" -> 2, "l_discount" -> 2))
      .select(col("l_returnflag"), col("x_col"), col("y_col"), col("n"),
        round(col("corr"), 12).as("corr"))
      .orderBy(col("l_returnflag"), col("x_col"), col("y_col"))

  /** Exact equal-frequency binning ([[graft.ops.Binning]]): rank-based
    * ntile per return flag (bounded group partitions — the exact form's
    * domain), bucket stats aggregated. The sketch-cutpoint form is the
    * scale path (BinningSpec covers it; its bins are approximate by
    * construction, so the exact form carries the oracle).
    */
  private def qBinning(s: SparkSession, dir: String): DataFrame =
    graft.ops.Binning.discretizeEqualFreq(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", nBins = 4,
        tieBreak = Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("l_returnflag"), col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      .orderBy(col("l_returnflag"), col("bin"))

  /** Data-quality expectations ([[graft.ops.Expectations]]): six rule
    * kinds over lineitem evaluated in ONE aggregation pass (the InRange
    * and InSet rules are deliberately violated by the data — the report
    * must count, not just flag).
    */
  private def qExpectations(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations.Rule
    graft.ops.Expectations.check(t(s, dir, "lineitem"), Seq(
      Rule.NotNull("l_returnflag"),
      Rule.Unique(Seq("l_orderkey", "l_linenumber")),
      Rule.InRange("l_discount", 0.0, 0.05),
      Rule.InSet("l_returnflag", Seq("A", "N")),
      Rule.Matches("l_linestatus", "[OF]"),
      Rule.Satisfies("non_negative_price", col("l_extendedprice") >= 0),
    ))
  }

  /** Referential-integrity audit ([[graft.ops.Expectations
    * .referentialIntegrity]]): the cross-table expectation q_expectations'
    * single-table rules can't state — orphaned lineitems (l_orderkey
    * with no order) and orphaned orders (o_custkey with no customer),
    * one anti join each, exact counts, integral-division pct.
    */
  private def qRefIntegrity(s: SparkSession, dir: String): DataFrame = {
    val li = graft.ops.Expectations.referentialIntegrity(
      t(s, dir, "lineitem"), Seq("l_orderkey"),
      t(s, dir, "orders"), Seq("o_orderkey"), "lineitem->orders")
    val oc = graft.ops.Expectations.referentialIntegrity(
      t(s, dir, "orders"), Seq("o_custkey"),
      t(s, dir, "customer"), Seq("c_custkey"), "orders->customer")
    li.unionByName(oc).orderBy(col("relation"))
  }

  /** Distribution drift ([[graft.ops.Drift.psi]]): PSI between the view
    * and purchase event-value distributions over explicit cutpoints.
    * Counts are exact; the irrational PSI term is rounded to 6 dp on
    * both sides (ln differs in the last ulp across libm builds).
    */
  private def qDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.ops.Drift.psi(
        ev.filter(col("event_type") === "view").select(col("value")),
        ev.filter(col("event_type") === "purchase").select(col("value")),
        "value", driftCuts)
      .select(col("bin"), col("ref_n"), col("cur_n"),
        round(col("psi_term"), 6).as("psi_term"))
      .orderBy(col("bin"))
  }

  private val driftCuts = Seq(25.0, 50.0, 75.0, 100.0, 150.0, 200.0, 250.0, 300.0)

  /** Rolling z-score anomalies ([[graft.ops.Timeseries.flagAnomalies]]):
    * trailing-50 per-event-type baseline, |z| > 3 flags. Moments ride
    * exact decimal sums then one double cast — bit-equal across engines
    * (sqrt is IEEE-exact, unlike ln), so zscore itself is oracled.
    */
  private def qAnomaly(s: SparkSession, dir: String): DataFrame =
    Timeseries.flagAnomalies(t(s, dir, "events"), Seq("event_type"),
        Seq("ts", "event_id"), col("value"), n = 50, z = 3.0, minPeriods = 10)
      .filter(col("is_anomaly"))
      // filter on the raw z (ulp-straddle odds at the 3.0 fence ~1e-15);
      // emit it rounded so a last-ulp engine difference can't flip the hash
      .select(col("event_type"), col("event_id"), col("value"),
        round(col("zscore"), 6).as("zscore"))
      .orderBy(col("event_type"), col("event_id"))

  /** Feature scaling ([[graft.ops.Scaling]]): per-return-flag z-score and
    * min-max scaled prices, emitted row-level for a keyed subset (no
    * aggregation over scaled doubles → no float-order hazard; the stats
    * themselves ride decimal sums and IEEE arithmetic, bit-equal to the
    * oracle's closed form).
    */
  private def qScale(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"),
        col("l_extendedprice").as("z_price"),
        col("l_extendedprice").as("mm_price"))
    val scaled = graft.ops.Scaling.minMaxScale(
      graft.ops.Scaling.standardize(li, Seq("l_returnflag"), Seq("z_price")),
      Seq("l_returnflag"), Seq("mm_price"))
    // 9-dp rounding on both sides: the decimal-sum -> double cast is
    // correctly rounded in the JVM but not in DuckDB's int128 path, so
    // raw doubles can disagree in the final ulp.
    scaled.filter(col("l_orderkey") % 100 === 0)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        round(col("z_price"), 9).as("z_price"),
        round(col("mm_price"), 9).as("mm_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Exact join-size pre-flight ([[graft.ops.Stats.joinSizeExact]]):
    * predicts the lineitem self-join cardinality on l_partkey WITHOUT
    * running the join (count-product over per-key counts). The oracle
    * MATERIALIZES the join and counts — the estimate must equal reality
    * row-for-row.
    */
  private def qJoinsize(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    // The operator keeps DECIMAL(38,0) internally (a hot key can push the
    // pair count past Long.MaxValue), but the emitted row is BIGINT: at the
    // bench SF the totals fit comfortably (18.6M at sf0.1) and decimal
    // output columns hash differently across engines in the driver gate.
    graft.ops.Stats.joinSizeExact(li, "l_partkey", li, "l_partkey")
      .select(col("n_pairs").cast("long").as("n_pairs"),
        col("n_keys_matched"),
        col("max_key_pairs").cast("long").as("max_key_pairs"))
  }

  /** Wilson proportion CI ([[graft.ops.Stats.proportionCi]]): purchase
    * conversion per A/B variant (user_id parity) with 95% bounds — all
    * IEEE div/mul/sqrt on exact counts, mirrored bit-for-bit by the
    * oracle's formula.
    */
  private def qAbCi(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.proportionCi(
        t(s, dir, "events").withColumn("variant", (col("user_id") % 2).cast("int")),
        Seq("variant"), col("event_type") === "purchase")
      .orderBy(col("variant"))

  /** Validation for the sketch-only join-size bound
    * ([[graft.ops.Stats.joinSizeUpperBound]]): the CMS inner product can
    * never undercount the exact count-product — a deterministic law, so
    * violations = 0, oracle SELECT 0. A deliberately narrow width keeps
    * collisions (and the bound's slack) in play.
    */
  private def qJoinsizeBound(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val bound = graft.ops.Stats.joinSizeUpperBound(li, "l_partkey", li, "l_partkey",
      depth = 5, width = 1 << 10)
    val exact = graft.ops.Stats.joinSizeExact(li, "l_partkey", li, "l_partkey")
      .select(col("n_pairs"))
    bound.crossJoin(exact)
      .select(when(col("upper_bound") < col("n_pairs"), 1L).otherwise(0L)
        .as("n_violations"))
  }

  /** Skewed key shared by the heavy-hitter queries: 3 hot keys carrying
    * ~25% of lineitem between them, plus one cold key per order.
    */
  private def hhKeyed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").withColumn("hkey",
      when(col("l_orderkey") % 4 === 0,
        concat(lit("hot_"), (col("l_orderkey") % 3).cast("string")))
        .otherwise(concat(lit("cold_"), col("l_orderkey").cast("string"))))

  /** Exact heavy hitters ([[graft.ops.Frequency.heavyHitters]]): keys
    * above total/100 with exact counts — one map-combined shuffle plus a
    * 1-row broadcast total, no second scan.
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.ops.Frequency.heavyHitters(hhKeyed(s, dir), "hkey", k = 100)
      .orderBy(col("key"))

  /** Validation for the Misra-Gries sketch path
    * ([[graft.ops.Frequency.misraGries]]): every exact heavy hitter
    * (freq > n/100) must appear in the bounded-memory candidate set
    * (capacity 200 → guaranteed for freq > n/201). Violations = 0,
    * oracle SELECT 0.
    */
  private def qHhContainment(s: SparkSession, dir: String): DataFrame = {
    val keyed = hhKeyed(s, dir)
    val exact = graft.ops.Frequency.heavyHitters(keyed, "hkey", k = 100)
    val cand = graft.ops.Frequency.misraGries(keyed, "hkey", capacity = 200)
    exact.join(cand, Seq("key"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
  }

  /** Validation: distinct-count-as-mergeable-state. History's per-type
    * HLL sketch states merged with a delta's partials
    * ([[graft.ops.Incremental.hllMergeState]]) must estimate within the
    * sketch's error envelope of the EXACT distinct count over the full
    * data (4σ at lgK=12 ≈ 6.5% relative; at these cardinalities the
    * sketch is still in sparse-exact mode, so the real gap is 0).
    * Violations = 0, oracle SELECT 0.
    */
  private def qHllMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental
    val e = t(s, dir, "events")
    val cutoff = "2024-01-15 00:00:00"
    val hist = e.filter(col("ts") < lit(cutoff))
    val delta = e.filter(col("ts") >= lit(cutoff))
    val state = Incremental.hllState(hist, Seq("event_type"), "user_id")
    val merged = Incremental.hllMergeState(state, delta, Seq("event_type"), "user_id")
      .select(col("event_type"), Incremental.hllCount(col("hll_user_id")).as("est"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.join(exact, Seq("event_type"))
      .agg(coalesce(sum(when(
        abs(col("est") - col("n_exact")) > lit(0.065) * col("n_exact"), 1L)
        .otherwise(0L)), lit(0L)).as("n_violations"))
  }

  /** Winsorized robust stats ([[graft.ops.Outliers.winsorize]]): order
    * values clamped into their status's exact [p5, p95] band, then
    * count/min/max/mean — bounds broadcast back, fact rows shuffle once.
    */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Outliers.winsorize(t(s, dir, "orders"),
        Seq("o_orderstatus"), "o_totalprice", pLo = 0.05, pHi = 0.95)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        (dsum(col("o_totalprice")) / count(lit(1))).as("wmean"))
      .orderBy(col("o_orderstatus"))

  /** Order-independent table checksum ([[graft.ops.Observe
    * .tableChecksum]]) over integer/string lineitem columns: identical
    * md5-derived 60-bit row hashes on both engines, combined with
    * XOR + exact decimal sum + count — the replication-audit triple.
    */
  private def qTableChecksum(s: SparkSession, dir: String): DataFrame =
    graft.ops.Observe.tableChecksum(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_returnflag", "l_linestatus"))

  /** Validation for small-file compaction ([[graft.sources.Sources
    * .compact]]) composed with the audit checksum
    * ([[graft.ops.Observe.tableChecksum]]): a 64-file fragmented copy of
    * events compacts to exactly min(planned, rows) data-bearing files AND
    * the (n_rows, xor60, sum60) triple is unchanged — content-preservation
    * proven by aggregate, not by a row diff. Violations = 0.
    */
  private def qCompactAudit(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-audit")
    // the returned frame reads these files when it runs, so the tree can
    // only go when the JVM exits
    org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      .deleteOnExit(new org.apache.hadoop.fs.Path(root.toString))
    val inPath = root.resolve("in").toString
    val outPath = root.resolve("out").toString
    val cols = Seq("event_id", "user_id", "event_type")
    t(s, dir, "events").select(cols.map(col): _*)
      .repartition(64).write.mode("overwrite").parquet(inPath)
    val target = math.max(1L, graft.sources.Sources.dataFileBytes(s, inPath) / 4)
    val planned = graft.sources.Sources.compact(s, inPath, outPath, target)
    val a = graft.ops.Observe.tableChecksum(graft.sources.Sources.readParquet(s, inPath), cols)
      .toDF("n_a", "x_a", "s_a")
    val out = graft.sources.Sources.readParquet(s, outPath)
    val b = graft.ops.Observe.tableChecksum(out, cols)
      .toDF("n_b", "x_b", "s_b")
    // degenerate-lint alignment: (1) xor60/sum60 are NULL over zero rows —
    // compare null-safely or an empty-input audit reports NULL violations;
    // (2) the file law counts DATA-BEARING files (via _metadata.file_path,
    // distributed — no fs walk): Spark round-robin fills every planned
    // partition only when rows >= planned, and always emits a row-free
    // schema-carrier file for partition 0 when it lands empty, so the raw
    // fs count is min(planned, rows) + {0, 1}; data-bearing files are
    // exactly min(planned, rows) — the invariant that holds at every scale
    val dataFiles = out
      .select(countDistinct(col("_metadata.file_path")).as("files_data"))
    a.crossJoin(b).crossJoin(broadcast(dataFiles)).select(
      ((!(col("n_a") <=> col("n_b"))).cast("long") +
        (!(col("x_a") <=> col("x_b"))).cast("long") +
        (!(col("s_a") <=> col("s_b"))).cast("long") +
        (col("files_data") =!=
          least(lit(planned.toLong), col("n_b").cast("long"))).cast("long"))
        .as("n_violations"))
  }

  /** Two-sample KS drift statistic ([[graft.ops.Drift.ksStatistic]]):
    * even- vs odd-orderkey halves of the order-value distribution. The
    * integer numerator makes the max CDF gap oracle-exact; the global
    * cumulative counts ride [[graft.ops.Ids.withRunningTotals]] (range
    * partitions + bounded windows), never a whole-frame window.
    */
  private def qKs(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    graft.ops.Drift.ksStatistic(
      o.filter(col("o_orderkey") % 2 === 0).select(col("o_totalprice")),
      o.filter(col("o_orderkey") % 2 === 1).select(col("o_totalprice")),
      "o_totalprice")
  }

  /** Per-group OLS trend ([[graft.ops.Regression.groupOls]]): the slope /
    * intercept / r² of event value over time (days since 2024-01-01, the
    * panel's first day — a LOCAL x origin keeps the micro-quantized
    * second moments inside DECIMAL(38)/HUGEINT range) per event type.
    * Five moment sums in one map-side-combined aggregation — the
    * scale-safe form of "fit a line per series" that the reference would
    * route through driver-side pandas via its grouped-map machinery.
    */
  private def qOlsTrend(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val day = floor(unix_micros(col("ts")) / lit(86400000000L)) - lit(19723L)
    graft.ops.Regression.groupOls(e, Seq("event_type"), day, col("value"))
      .orderBy(col("event_type"))
  }

  /** Benford first-digit audit ([[Profile.benfordAudit]]) over lineitem
    * extended prices — 9 rows out of the whole scan, digit extracted
    * from the integer cents' decimal rendering (never libm near
    * power-of-ten edges).
    */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    Profile.benfordAudit(t(s, dir, "lineitem"), col("l_extendedprice"), scale = 2)
      .orderBy(col("digit"))

  /** Welch's t-test ([[graft.ops.Stats.welchT]]): purchase vs click
    * event values — the unequal-variance experiment readout, both
    * samples' exact moments from one union-tagged aggregation.
    */
  private def qWelch(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    graft.ops.Stats.welchT(e,
      col("event_type") === "purchase", col("event_type") === "click", col("value"))
  }

  /** Standardized effect size ([[graft.ops.Stats.effectSize]]):
    * Cohen's d + Hedges' g for purchase-vs-click values — the
    * "does it MATTER?" companion to q_welch's "is it significant?",
    * same one-pass conditional-moment aggregation.
    */
  private def qEffectSize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.effectSize(t(s, dir, "events"),
      col("event_type") === "purchase", col("event_type") === "click", col("value"))

  /** Brown-Forsythe variance homogeneity
    * ([[graft.ops.Stats.leveneBrownForsythe]]): do the five event types
    * share a value SPREAD (q_anova asks about means)? W = ANOVA F on
    * |x − group median|, medians by exact integer interpolation.
    */
  private def qLevene(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.leveneBrownForsythe(t(s, dir, "events"),
      col("event_type"), col("value"))

  /** Kruskal-Wallis H ([[graft.ops.Stats.kruskalWallis]]): q_anova's
    * nonparametric sibling — do the five event types share a value
    * LOCATION judged on ranks, per user segment? The distinct-value
    * rank layer keeps 2·R_j, the tie sum, and the tie-corrected H
    * exact under any partitioning.
    */
  private def qKruskal(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 4)
    graft.ops.Stats.kruskalWallis(e, Seq("segment"),
        col("event_type"), col("value"))
      .orderBy(col("segment"))
  }

  /** Goodman-Kruskal ordinal association ([[graft.ops.Stats
    * .gammaOrdinal]]): does order quantity MOVE WITH the discount
    * percent, judged on ordered levels — gamma, Somers' d (discount
    * dependent) and tau-b from exact concordant/discordant/tied pair
    * totals over the 50×11 contingency cells. The ordinal complement
    * of q_spearman; all pair arithmetic is levels²-bounded.
    */
  private def qGamma(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.gammaOrdinal(t(s, dir, "lineitem"),
      col("l_quantity").cast("long"),
      round(col("l_discount") * 100).cast("long"))

  /** p-chart ([[graft.ops.Stats.pChart]]): per event type, the daily
    * share of high-value events (value > 50) monitored with binomial
    * 3σ limits that WIDEN on thin days — the attribute complement of
    * q_spc's X-MR chart on the same stream; violations counted with
    * integer-compared nano-quantized limits.
    */
  private def qPchart(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.pChart(t(s, dir, "events"), Seq("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)),
        col("value").isNotNull && col("value") > 50.0)
      .orderBy(col("event_type"))

  /** Jarque-Bera normality ([[graft.ops.Stats.jarqueBera]]): does each
    * event type's value column look Gaussian? The pre-flight check
    * before q_welch/q_anova/q_outliers trust normal tails — exact
    * power sums, broadcast stats join, micro-quantized z³/z⁴ sums.
    */
  private def qJarqueBera(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.jarqueBera(t(s, dir, "events"),
        Seq("event_type"), col("value"))
      .orderBy(col("event_type"))

  /** D'Agostino K² ([[graft.ops.Stats.dagostinoK2]]): q_jarque_bera's
    * skew/kurtosis evidence on the same per-type event values, passed
    * through the exact finite-n Z₁/Z₂ transforms before the χ²₂
    * combination — the normality readout whose null holds at small n.
    * Same two-pass moment spine; the transform is one fixed IEEE tree
    * per group.
    */
  private def qDagostino(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.dagostinoK2(t(s, dir, "events"),
        Seq("event_type"), col("value"))
      .orderBy(col("event_type"))

  /** Two-sample Anderson-Darling ([[graft.ops.Drift
    * .andersonDarling2]]): q_cvm's purchase-vs-click value comparison
    * re-weighted toward the TAILS — B(N−B) in the denominator makes
    * extreme-value disagreement count most, completing the ECDF trio
    * (KS peak / CvM body / AD tails) on the same segment slices.
    */
  private def qAd2(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 8)
    graft.ops.Drift.andersonDarling2(e, Seq("segment"),
        col("event_type") === "purchase", col("event_type") === "click",
        col("value"))
      .orderBy(col("segment"))
  }

  /** Dunn's post-hoc ([[graft.ops.Stats.dunnTest]]): which event-type
    * PAIRS differ in value location after q_kruskal says "some do" —
    * mean ranks off one shared ranking, pairs built join-free on the
    * 1-row grand frame (the q_tukey shape), tie-corrected z per pair.
    */
  private def qDunn(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.dunnTest(t(s, dir, "events"),
        col("event_type"), col("value"))
      .orderBy(col("level_a"), col("level_b"))

  /** Huber M-location ([[graft.ops.Stats.huberLocation]]): each event
    * type's robust center with c = 25 (full weight within 25 value
    * units of the center, 1/distance beyond) — up to 4 IRLS sweeps from
    * the exact mean, stopping at the exact fixed point, emitted beside it
    * so the outlier pull is visible. Integer-micro distances make every
    * weight branch an integer comparison; the oracle replays all 4 sweeps
    * CTE-for-CTE (a sweep past the fixed point repeats it).
    */
  private def qHuber(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.huberLocation(t(s, dir, "events"),
        Seq("event_type"), col("value"), c = 25.0, sweeps = 4)
      .orderBy(col("event_type"))

  private def huberOracleSql(sweeps: Int, cMicro: Long): String = {
    val sweepCtes = (1 to sweeps).map { s =>
      val wExpr =
        s"""CASE WHEN ABS(x - mu) <= $cMicro THEN 1.0
           |        ELSE $cMicro.0 / CAST(ABS(x - mu) AS DOUBLE) END""".stripMargin
      s"""s$s AS (
         |  SELECT b.g,
         |    SUM(CAST(round(($wExpr) * CAST(x AS DOUBLE)) AS HUGEINT)) AS wx,
         |    SUM(CAST(CAST(round(($wExpr) * 1000000.0) AS BIGINT) AS HUGEINT)) AS w
         |  FROM b JOIN u${s - 1} u ON b.g = u.g
         |  GROUP BY 1),
         |u$s AS (
         |  SELECT g, CAST(round(CAST(wx AS DOUBLE) * 1000000.0
         |    / CAST(w AS DOUBLE)) AS BIGINT) AS mu, w
         |  FROM s$s)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
       |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
       |m0 AS (
       |  SELECT g, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s1 FROM b GROUP BY 1),
       |u0 AS (
       |  SELECT g, CAST(round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mu
       |  FROM m0),
       |$sweepCtes
       |SELECT m0.g AS event_type, m0.n,
       |  round(CAST(m0.s1 AS DOUBLE) / CAST(m0.n AS DOUBLE) / 1000000.0, 6) AS mean,
       |  round(CAST(u$sweeps.mu AS DOUBLE) / 1000000.0, 6) AS huber_mu,
       |  round(CAST(u$sweeps.w AS DOUBLE) / 1000000.0, 6) AS w_sum
       |FROM m0 JOIN u$sweeps ON m0.g = u$sweeps.g
       |ORDER BY event_type""".stripMargin
  }

  /** Mood's median test ([[graft.ops.Stats.moodMedianTest]]): the
    * outlier-proof sanity check under q_kruskal — does each event type
    * put the same share of its rows above the grand median value? The
    * cut is the exact lower median off the distinct-value table, so
    * every count is integral.
    */
  private def qMood(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.moodMedianTest(t(s, dir, "events"),
      col("event_type"), col("value"))

  /** Linearly-weighted kappa ([[graft.ops.Stats.weightedKappa]]): do
    * two crude ordinal size graders of a line item — the quantity
    * decade and the capped extended-price ventile — agree beyond
    * chance, with near-misses discounted linearly? The ordinal
    * agreement number plain κ throws away.
    */
  private def qWeightedKappa(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.weightedKappa(t(s, dir, "lineitem"),
      floor(col("l_quantity") / 10),
      least(floor(col("l_extendedprice") / 20000), lit(5)))

  /** Cohen's h ([[graft.ops.Stats.cohenH]]): HOW different are the
    * purchase and click high-value rates — the arcsine-stabilized
    * effect size beside q_two_prop's z, one grand conditional-count
    * aggregation.
    */
  private def qCohenH(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.cohenH(t(s, dir, "events"),
      col("event_type") === "purchase", col("event_type") === "click",
      col("value") > 100.0)

  /** Partial correlation ([[graft.ops.Stats.partialCorrelation]]):
    * does quantity still track extended price once discount is held
    * fixed? The causal-hygiene readout over q_corr's raw number — one
    * grand nine-sum aggregation, three exact-moment correlations, one
    * partial.
    */
  private def qPartialCorr(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.partialCorrelation(t(s, dir, "lineitem"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"))

  /** Per-stratum odds ratios ([[graft.ops.Stats.oddsRatioByStratum]]):
    * the stratum-level view under q_cmh's pooled OR and
    * q_breslow_day's homogeneity verdict — which user segments carry
    * the click→high-value association, with Woolf 95% bounds.
    */
  private def qOddsRatio(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("event_type").isin("click", "view") && col("user_id").isNotNull)
      .withColumn("stratum", col("user_id") % 4)
    graft.ops.Stats.oddsRatioByStratum(e, col("stratum"),
        col("event_type") === "click", col("value") > 100.0)
      .orderBy(col("stratum"))
  }

  /** Benjamini-Yekutieli ([[graft.ops.Stats.benjaminiHochberg]] with
    * `yekutieli = true`): q_fdr's eight segment KS tests re-corrected
    * for ARBITRARY dependence — the harmonic-inflated q-values to
    * quote when the segments share users and positive dependence
    * can't be assumed.
    */
  private def qBy(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 8)
    val ks = graft.ops.Drift.ksStatisticGrouped(e, Seq("segment"),
      col("event_type") === "purchase", col("event_type") === "click",
      col("value"))
    graft.ops.Stats.benjaminiHochberg(ks, col("p"), alpha = 0.1,
        tieBreak = Seq(col("segment")), yekutieli = true)
      .select(col("segment"), col("n_a"), col("n_b"), col("d_num"),
        col("ks"), col("p"), col("bh_rank"), col("bh_q"), col("bh_reject"))
      .orderBy(col("segment"))
  }

  /** Holm-Bonferroni step-down ([[graft.ops.Stats.holmBonferroni]])
    * over q_by's per-segment KS tests: the family-wise-error companion
    * to BH/BY — when even one false "segment 7 drifted" alarm is
    * expensive, the prefix-max adjusted p is the gate.
    */
  private def qHolm(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 8)
    val ks = graft.ops.Drift.ksStatisticGrouped(e, Seq("segment"),
      col("event_type") === "purchase", col("event_type") === "click",
      col("value"))
    graft.ops.Stats.holmBonferroni(ks, col("p"), alpha = 0.1,
        tieBreak = Seq(col("segment")))
      .select(col("segment"), col("n_a"), col("n_b"), col("d_num"),
        col("ks"), col("p"), col("holm_rank"), col("holm_adj"), col("holm_reject"))
      .orderBy(col("segment"))
  }

  /** One-way random-effects ICC ([[graft.ops.Stats.iccOneWay]]) of
    * event values by type — q_anova's reliability view: not "do the
    * groups differ" but "what share of total variance the grouping
    * carries", with the unequal-size k₀ correction.
    */
  private def qIcc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.iccOneWay(t(s, dir, "events"),
      col("event_type"), col("value"))

  /** Two-sample Cramér-von Mises per segment
    * ([[graft.ops.Drift.cramerVonMisesGrouped]]): q_fdr's KS layer
    * re-read as the WHOLE-CURVE squared-gap integral — U stays an exact
    * integer over the distinct-value table, so the statistic needs no
    * per-term quantization at all.
    */
  private def qCvm(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 8)
    graft.ops.Drift.cramerVonMisesGrouped(e, Seq("segment"),
        col("event_type") === "purchase", col("event_type") === "click",
        col("value"))
      .orderBy(col("segment"))
  }

  /** 1-Wasserstein drift ([[graft.ops.Drift.wasserstein1Grouped]]) on
    * q_cvm's slice: how far, IN VALUE UNITS, does mass move between
    * the purchase and click value distributions per user segment —
    * the drift magnitude q_ks's scale-free gap and q_cvm's squared
    * integral cannot express. Exact integer gap×rank-gap terms,
    * integral-divide micro emit.
    */
  private def qWasserstein(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 8)
    graft.ops.Drift.wasserstein1Grouped(e, Seq("segment"),
        col("event_type") === "purchase", col("event_type") === "click",
        col("value"))
      .orderBy(col("segment"))
  }

  /** Energy distance ([[graft.ops.Drift.energyDistanceGrouped]]) on the
    * same slice: the Székely-Rizzo omnibus two-sample statistic with
    * its three interpretable mean-distance components — the all-pairs
    * sums collapsed to per-gap counting algebra over the distinct-value
    * table, never an enumerated pair space.
    */
  private def qEnergy(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 8)
    graft.ops.Drift.energyDistanceGrouped(e, Seq("segment"),
        col("event_type") === "purchase", col("event_type") === "click",
        col("value"))
      .orderBy(col("segment"))
  }

  /** TOST equivalence test ([[graft.ops.Stats.tost]]): are purchase
    * and click mean values provably within ±10 of each other? The
    * question q_welch cannot answer — absence of significance is not
    * equivalence; two one-sided Welch z's against the margin are.
    */
  private def qTost(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.tost(t(s, dir, "events"),
      col("event_type") === "purchase", col("event_type") === "click",
      col("value"), margin = 10.0)

  /** Top-10 bivariate Mahalanobis outliers
    * ([[graft.ops.Outliers.mahalanobisTopK]]) in the
    * (quantity, price) plane: rows normal on each axis but off the
    * correlation ridge — the joint-anomaly screen per-column z-scores
    * miss. Closed-form 2×2 inverse over exact moments, no shuffle of
    * data rows.
    */
  private def qMahalanobis(s: SparkSession, dir: String): DataFrame =
    graft.ops.Outliers.mahalanobisTopK(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), k = 10)

  /** Page's L ordered-trend test ([[graft.ops.Stats.pageTrend]]): do
    * per-block event-type revenue ranks INCREASE in type order? The
    * ordered alternative q_friedman's omnibus χ² cannot see — doubled
    * midranks keep 2L an exact integer.
    */
  private def qPageTrend(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .withColumn("block", col("user_id") % 16)
      .groupBy(col("block"), col("event_type"))
      .agg(sum(round(col("value") * lit(1e2), 0).cast("long")).as("cents"))
    graft.ops.Stats.pageTrend(e, col("block"), col("event_type"),
      col("cents").cast("double"))
  }

  /** Storey's π₀ ([[graft.ops.Stats.storeyPi0]]) over q_fdr's
    * per-segment KS p-values: what fraction of the fan-out looks like
    * true nulls — the adaptive-FDR dial on the same tests table.
    */
  private def qPi0(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 8)
    val ks = graft.ops.Drift.ksStatisticGrouped(e, Seq("segment"),
      col("event_type") === "purchase", col("event_type") === "click",
      col("value"))
    graft.ops.Stats.storeyPi0(ks, col("p"), lambda = 0.5)
  }

  /** Jonckheere-Terpstra ordered trend
    * ([[graft.ops.Stats.jonckheereTerpstra]]): do event-type value
    * distributions shift up in type order? The one-directional
    * alternative q_kruskal's omnibus H ignores — exact half-tie
    * doubling keeps 2J integral over the pair-merged value streams.
    */
  private def qJonckheere(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.jonckheereTerpstra(t(s, dir, "events"),
      col("event_type"), col("value"))

  /** Bowker symmetry test ([[graft.ops.Stats.bowker]]) on the user
    * event-transition matrix: do i→j flows match j→i — is the behavior
    * chain reversible? The k×k McNemar via canonical-pair sums, no
    * self-join.
    */
  private def qBowker(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seqd = t(s, dir, "events")
      .select(col("event_type").as("a"),
        lead(col("event_type"), 1).over(w).as("b"))
      .filter(col("b").isNotNull)
    graft.ops.Stats.bowker(seqd, col("a"), col("b"))
  }

  /** G-test of independence ([[graft.ops.Stats.gTest]]) between event
    * type and user bucket: the likelihood-ratio twin of q_chi2,
    * additive across table partitions and kinder to sparse cells —
    * nano-quantized O·ln(O·N/RC) terms over the bounded cell table.
    */
  private def qGtest(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.gTest(t(s, dir, "events"),
      col("event_type"), col("user_id") % 4)

  /** Rank-biserial effect size ([[graft.ops.Stats.rankBiserial]]): HOW
    * strongly do purchase values outrank click values per segment —
    * the magnitude readout for q_mannwhitney's significance, off the
    * same exact rank layer.
    */
  private def qRankBiserial(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 4)
    graft.ops.Stats.rankBiserial(e, Seq("segment"),
        col("event_type") === "purchase", col("event_type") === "click",
        col("value"))
      .orderBy(col("segment"))
  }

  /** Yuen's trimmed t ([[graft.ops.Stats.yuenT]]): q_welch re-asked
    * robustly — do purchase and click values differ in TRIMMED-mean
    * location (20% per tail), scaled by winsorized variances? The
    * outlier-proof spelling of the same A/B question, off one
    * side-keyed rank exchange.
    */
  private def qYuen(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.yuenT(t(s, dir, "events"),
      col("event_type") === "purchase", col("event_type") === "click",
      col("value"), trimNum = 1, trimDen = 5)

  /** Kendall's W ([[graft.ops.Stats.kendallW]]): the 0..1 concordance
    * effect size behind q_friedman — how strongly do the 16 segment
    * blocks agree on the event-type revenue ranking, via
    * W = χ²_tie/(m(k−1)) off the same complete-block rank pass.
    */
  private def qKendallW(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .withColumn("block", col("user_id") % 16)
      .groupBy(col("block"), col("event_type"))
      .agg(sum(round(col("value") * lit(1e2), 0).cast("long")).as("cents"))
    graft.ops.Stats.kendallW(e, col("block"), col("event_type"),
      col("cents").cast("double"))
  }

  /** Cochran-Armitage trend ([[graft.ops.Stats.cochranArmitage]]):
    * does the return probability trend with order quantity (1..50 as
    * the ordinal dose)? One level-keyed aggregation + a 50-row rollup,
    * every sum exact decimal, one z at the end.
    */
  private def qCaTrend(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.cochranArmitage(t(s, dir, "lineitem"),
      col("l_quantity"), col("l_returnflag") === "R")

  /** Breslow-Day OR homogeneity ([[graft.ops.Stats.breslowDay]]): do
    * q_cmh's four user-segment strata actually share the common odds
    * ratio it pools? The mandatory follow-up before or_mh is quoted —
    * per-stratum expected cells from the in-range quadratic root, all
    * on the bounded strata table.
    */
  private def qBreslowDay(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("event_type").isin("click", "view") && col("user_id").isNotNull)
      .withColumn("stratum", col("user_id") % 4)
    graft.ops.Stats.breslowDay(e, col("stratum"),
      col("event_type") === "click", col("value") > 100.0)
  }

  /** Cochran's Q ([[graft.ops.Stats.cochranQ]]): do purchase, click,
    * and view reach DIFFERENT shares of users, judged within-subject so
    * heavy users don't confound the comparison? q_mcnemar's k = 3
    * generalization — one grand integral aggregation over the per-user
    * binary profile.
    */
  private def qCochran(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "events").filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("tp"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("tc"),
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("tv"))
    graft.ops.Stats.cochranQ(wide,
      Seq(col("tp") === 1, col("tc") === 1, col("tv") === 1))
  }

  /** Cronbach's alpha ([[graft.ops.Stats.cronbachAlpha]]): do three
    * length-flavored document sub-scores (chars, tokens, sentence
    * punctuation) cohere into one reliable "size" scale? The rubric
    * check before any composite doc-quality score is trusted — exact
    * micro power sums, one grand aggregation.
    */
  private def qCronbach(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    graft.ops.Stats.cronbachAlpha(d, Seq(
      length(col("text")).cast("double"),
      size(split(col("text"), " ")).cast("double"),
      length(regexp_replace(col("text"), "[^.!?]", "")).cast("double")))
  }

  /** Friedman test ([[graft.ops.Stats.friedman]]): ranking the five
    * event types' revenue WITHIN each of 16 user-segment blocks — the
    * repeated-measures complement of q_kruskal, immune to block-level
    * spend differences. Within-block k-bounded rank windows, exact
    * 2·R_j sums, tie-corrected χ².
    */
  private def qFriedman(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .withColumn("block", col("user_id") % 16)
      .groupBy(col("block"), col("event_type"))
      .agg(sum(round(col("value") * lit(1e2), 0).cast("long")).as("cents"))
    graft.ops.Stats.friedman(e, col("block"), col("event_type"),
      col("cents").cast("double"))
  }

  /** Bartlett variance homogeneity ([[graft.ops.Stats.bartlett]]):
    * q_levene's parametric complement on the same five event-type
    * value spreads — sharper under normality, which q_jarque_bera
    * checks first. Per-level exact moments, nano-quantized ln terms,
    * one χ² at the end.
    */
  private def qBartlett(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.bartlett(t(s, dir, "events"),
      col("event_type"), col("value"))

  /** Paired t-test ([[graft.ops.Stats.pairedT]]): per-user purchase
    * mean minus click mean, the within-subject readout q_welch's
    * independence assumption gets wrong when the same users appear on
    * both sides; users missing a side drop.
    */
  private def qPairedT(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.pairedT(t(s, dir, "events"), col("user_id"),
      col("event_type") === "purchase", col("event_type") === "click", col("value"))

  /** Durbin-Watson serial-correlation diagnostic
    * ([[graft.ops.Stats.durbinWatson]]) on q_ols_trend's fit: per
    * event type, DW of the daily-revenue-on-day OLS residuals in day
    * order — is the trend line missing serial structure?
    */
  private def qDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    graft.ops.Stats.durbinWatson(daily, Seq("event_type"), col("day"), col("cents"))
      .orderBy(col("event_type"))
  }

  /** Games-Howell post-hoc ([[graft.ops.Stats.gamesHowell]]): the
    * unequal-variance pairwise comparisons to read INSTEAD of q_tukey
    * when q_levene rejects spread homogeneity — per-pair Welch terms,
    * same k-bounded pair plan.
    */
  private def qGamesHowell(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.gamesHowell(t(s, dir, "events"), col("event_type"), col("value"))
      .orderBy(col("group_a"), col("group_b"))

  /** Sample-ratio-mismatch guardrail
    * ([[graft.ops.Stats.sampleRatioCheck]]): are the id-parity arms
    * actually 50/50? — the check that must pass before q_did/q_cuped
    * mean anything.
    */
  private def qSrm(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.sampleRatioCheck(
      t(s, dir, "events").select(col("user_id")).distinct(),
      col("user_id") % 2 === 0, col("user_id") % 2 === 1)

  /** Minimum detectable effect
    * ([[graft.ops.Stats.minimumDetectableEffect]]): what purchase-vs-
    * click difference could this sample even see at 80% power — the
    * context every null q_welch needs.
    */
  private def qMde(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.minimumDetectableEffect(t(s, dir, "events"),
      col("event_type") === "purchase", col("event_type") === "click", col("value"))

  /** Tukey HSD post-hoc ([[graft.ops.Stats.tukeyHsd]]): WHICH event
    * types differ in mean value, after q_anova says "some do" — all
    * ten pairwise studentized-range statistics against the pooled
    * within-group variance, k-bounded pair arithmetic after one
    * aggregation.
    */
  private def qTukey(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.tukeyHsd(t(s, dir, "events"), col("event_type"), col("value"))
      .orderBy(col("group_a"), col("group_b"))

  /** 2×2 difference-in-differences ([[graft.ops.Stats.diffInDiff]]):
    * did even-id users' event values move differently after mid-month?
    * — the launch readout when no clean A/B exists; four cell moments
    * in one conditional aggregate, Welch-style SE.
    */
  private def qDid(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.diffInDiff(t(s, dir, "events"),
      col("user_id") % 2 === 0,
      col("ts") >= to_timestamp(lit("2024-01-16 00:00:00")),
      col("value"))

  /** Sharp regression discontinuity ([[graft.ops.Regression
    * .regressionDiscontinuity]]): is there a discount JUMP at quantity
    * 25 — local-linear fits on each side of the 25.5 cutoff
    * (bandwidth 15), extrapolated to the boundary; τ is the jump, with
    * its closed-form SE. TPC-H prices carry no such policy, so the
    * expected readout is a null effect — the placebo audit that proves
    * the estimator doesn't invent discontinuities. One conditional
    * moment aggregation over the pushdown-filtered scan.
    */
  private def qRdd(s: SparkSession, dir: String): DataFrame =
    graft.ops.Regression.regressionDiscontinuity(t(s, dir, "lineitem"),
      col("l_quantity"), col("l_discount"), cutoff = 25.5, bandwidth = 15.0)

  /** Binary-instrument IV / Wald ([[graft.ops.Regression.ivWald]]):
    * user-id parity "encourages" clicking (a stand-in randomizer);
    * β_IV = ITT ÷ first stage scales the intent-to-treat value effect
    * by the induced click-rate difference, with the first-stage F as
    * the weak-instrument gate (parity induces ~no clicks, so F SHOULD
    * sit far below 10 — the audit that stops a weak-IV quote). One
    * grand conditional aggregation.
    */
  private def qIv(s: SparkSession, dir: String): DataFrame =
    graft.ops.Regression.ivWald(t(s, dir, "events"),
      col("user_id") % 2 === 1,
      when(col("event_type") === "click", 1.0).otherwise(0.0),
      col("value"))

  /** Weighted least squares ([[graft.ops.Regression.groupWls]]): price
    * vs quantity per return flag, each row weighted by (1 − discount) —
    * discounted rows are noisier price signals, so they count less.
    * Emitted beside n, w_sum makes the effective sample visible; same
    * one-pass exact-decimal weighted moments as q_ols_trend.
    */
  private def qWls(s: SparkSession, dir: String): DataFrame =
    graft.ops.Regression.groupWls(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), lit(1.0) - col("l_discount"))
      .orderBy(col("l_returnflag"))

  /** In-engine logistic regression ([[graft.ops.Regression
    * .logisticNewton]]): train P(purchase | ln(1+value)) with up to 4
    * Newton-Raphson steps, stopping at the exact fixed point — each step
    * one map-combined five-sum aggregation, coefficients carried as nano
    * integers, the 2×2 solve
    * replayed CTE-for-CTE by the oracle (the kmeansInt iterative
    * contract). The round-trip proof that classifier TRAINING, not just
    * q_classify's inference, runs in the engine.
    */
  private def qLogit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Regression.logisticNewton(
      t(s, dir, "events").filter(col("value").isNotNull && col("value") >= 0.0),
      col("event_type") === "purchase",
      log(lit(1.0) + col("value")),
      iterations = 4)

  /** The unrolled Newton training chain shared by the q_logit and
    * q_ipw oracles (r12 refactor): runs against a CTE named `base`
    * with columns (y, x), leaving i$iters holding (b0n, b1n).
    */
  /** The Newton-step determinant — the engine's degeneracy test
    * ([[graft.ops.Regression.logisticFitNano]]: `!(det > 0.0)` at ANY
    * iteration flags degenerate and freezes the coefficients). NULL
    * moment sums (empty base) coalesce to 0.0 exactly like the engine's
    * `dbl()` — det 0 ⇒ degenerate on the first sweep.
    */
  private val logitDetExpr: String =
    """(COALESCE(CAST(h00n AS DOUBLE), 0.0) / 1000000000.0
      |          * (COALESCE(CAST(h11n AS DOUBLE), 0.0) / 1000000000.0)
      |        - COALESCE(CAST(h01n AS DOUBLE), 0.0) / 1000000000.0
      |          * (COALESCE(CAST(h01n AS DOUBLE), 0.0) / 1000000000.0))""".stripMargin

  private def logitTrainCtes(iterations: Int): String =
    (1 to iterations).map { i =>
      s"""s$i AS (
         |  SELECT MAX(b0n) AS b0n, MAX(b1n) AS b1n, MAX(CAST(deg AS INT)) AS degi,
         |    SUM(CAST(round((y - p) * 1000000000.0) AS HUGEINT)) AS g0n,
         |    SUM(CAST(round((x * (y - p)) * 1000000000.0) AS HUGEINT)) AS g1n,
         |    SUM(CAST(round((p * (1.0 - p)) * 1000000000.0) AS HUGEINT)) AS h00n,
         |    SUM(CAST(round((x * (p * (1.0 - p))) * 1000000000.0) AS HUGEINT)) AS h01n,
         |    SUM(CAST(round((x * x * (p * (1.0 - p))) * 1000000000.0) AS HUGEINT)) AS h11n
         |  FROM (
         |    SELECT y, x, b0n, b1n, deg,
         |      1.0 / (1.0 + exp(-(CAST(b0n AS DOUBLE) / 1000000000.0
         |        + CAST(b1n AS DOUBLE) / 1000000000.0 * x))) AS p
         |    FROM base CROSS JOIN i${i - 1}) t),
         |i$i AS (
         |  SELECT
         |    CASE WHEN degi = 1 OR NOT ($logitDetExpr > 0.0) THEN b0n
         |    ELSE b0n + CAST(round((CAST(h11n AS DOUBLE) / 1000000000.0
         |        * (CAST(g0n AS DOUBLE) / 1000000000.0)
         |      - CAST(h01n AS DOUBLE) / 1000000000.0
         |        * (CAST(g1n AS DOUBLE) / 1000000000.0))
         |      / (CAST(h00n AS DOUBLE) / 1000000000.0
         |          * (CAST(h11n AS DOUBLE) / 1000000000.0)
         |        - CAST(h01n AS DOUBLE) / 1000000000.0
         |          * (CAST(h01n AS DOUBLE) / 1000000000.0))
         |      * 1000000000.0) AS BIGINT) END AS b0n,
         |    CASE WHEN degi = 1 OR NOT ($logitDetExpr > 0.0) THEN b1n
         |    ELSE b1n + CAST(round((CAST(h00n AS DOUBLE) / 1000000000.0
         |        * (CAST(g1n AS DOUBLE) / 1000000000.0)
         |      - CAST(h01n AS DOUBLE) / 1000000000.0
         |        * (CAST(g0n AS DOUBLE) / 1000000000.0))
         |      / (CAST(h00n AS DOUBLE) / 1000000000.0
         |          * (CAST(h11n AS DOUBLE) / 1000000000.0)
         |        - CAST(h01n AS DOUBLE) / 1000000000.0
         |          * (CAST(h01n AS DOUBLE) / 1000000000.0))
         |      * 1000000000.0) AS BIGINT) END AS b1n,
         |    (COALESCE(degi, 1) = 1 OR NOT ($logitDetExpr > 0.0)) AS deg
         |  FROM s$i)""".stripMargin
    }.mkString(",\n")

  private def logitOracleSql: String = {
    val iters = logitTrainCtes(4)
    s"""WITH base AS (
       |  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
       |    ln(1.0 + value) AS x
       |  FROM events WHERE value IS NOT NULL AND value >= 0.0),
       |i0 AS (SELECT CAST(0 AS BIGINT) AS b0n, CAST(0 AS BIGINT) AS b1n, FALSE AS deg),
       |$iters,
       |fin AS (
       |  SELECT COUNT(*) AS n, SUM(CAST(y AS BIGINT)) AS n_pos,
       |    MAX(CAST(deg AS INT)) AS degi,
       |    MAX(CAST(b0n AS DOUBLE) / 1000000000.0) AS b0,
       |    MAX(CAST(b1n AS DOUBLE) / 1000000000.0) AS b1,
       |    SUM(CAST(round((y * (CAST(b0n AS DOUBLE) / 1000000000.0
       |        + CAST(b1n AS DOUBLE) / 1000000000.0 * x)
       |      - ln(1.0 + exp(CAST(b0n AS DOUBLE) / 1000000000.0
       |        + CAST(b1n AS DOUBLE) / 1000000000.0 * x)))
       |      * 1000000000.0) AS HUGEINT)) AS lln
       |  FROM base CROSS JOIN i4)
       |SELECT n, CAST(n_pos AS BIGINT) AS n_pos,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN round(b0, 6) END AS b0,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN round(b1, 6) END AS b1,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN
       |    round(CAST(lln AS DOUBLE) / 1000000000.0, 6) END AS ll
       |FROM fin""".stripMargin
  }

  /** IPW (Hájek) average treatment effect ([[graft.ops.Regression
    * .ipwAte]]): does heavy viewing (≥ 14 views) LIFT a user's purchase
    * spend once click propensity is adjusted for — the full in-engine
    * causal pipeline: Newton-logistic propensity P(heavy | ln(1+clicks))
    * trained with the q_logit machinery, [0.01, 0.99] overlap clip,
    * self-normalizing weighted contrast. The oracle replays training
    * CTE-for-CTE (the shared chain) AND the weighting pass. Spend
    * aggregates in exact cents per user before any double arithmetic.
    */
  private def qIpw(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events").groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
      coalesce(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long"))), lit(0L)).as("cents"))
    graft.ops.Regression.ipwAte(perUser,
      col("views") >= 14, col("cents").cast("double") / lit(100.0),
      log(lit(1.0) + col("clicks")), iterations = 4)
  }

  private def ipwOracleSql: String = {
    val iters = logitTrainCtes(4)
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
       |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
       |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS cents
       |  FROM events GROUP BY 1),
       |base AS (
       |  SELECT CASE WHEN views >= 14 THEN 1.0 ELSE 0.0 END AS y,
       |    ln(1.0 + clicks) AS x,
       |    CAST(cents AS DOUBLE) / 100.0 AS o
       |  FROM pu),
       |i0 AS (SELECT CAST(0 AS BIGINT) AS b0n, CAST(0 AS BIGINT) AS b1n, FALSE AS deg),
       |$iters,
       |w AS (
       |  SELECT y, o, deg,
       |    LEAST(GREATEST(1.0 / (1.0 + exp(-(CAST(b0n AS DOUBLE) / 1000000000.0
       |      + CAST(b1n AS DOUBLE) / 1000000000.0 * x))), 0.01), 0.99) AS pc,
       |    CAST(b0n AS DOUBLE) / 1000000000.0 AS b0,
       |    CAST(b1n AS DOUBLE) / 1000000000.0 AS b1
       |  FROM base CROSS JOIN i4),
       |ag AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS nt,
       |    MAX(b0) AS b0, MAX(b1) AS b1, MAX(CAST(deg AS INT)) AS degi,
       |    SUM(CASE WHEN y = 1.0
       |      THEN CAST(round(o / pc * 1000000000.0) AS HUGEINT)
       |      ELSE 0 END) AS ty,
       |    SUM(CASE WHEN y = 1.0
       |      THEN CAST(round(1.0 / pc * 1000000000.0) AS HUGEINT)
       |      ELSE 0 END) AS tw,
       |    SUM(CASE WHEN y = 1.0 THEN 0
       |      ELSE CAST(round(o / (1.0 - pc) * 1000000000.0) AS HUGEINT)
       |      END) AS cy,
       |    SUM(CASE WHEN y = 1.0 THEN 0
       |      ELSE CAST(round(1.0 / (1.0 - pc) * 1000000000.0) AS HUGEINT)
       |      END) AS cw
       |  FROM w)
       |SELECT n, CAST(nt AS BIGINT) AS n_treated,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN round(b0, 6) END AS b0,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN round(b1, 6) END AS b1,
       |  CASE WHEN COALESCE(degi, 1) = 0 AND tw > 0 AND cw > 0 THEN
       |    round(CAST(ty AS DOUBLE) / CAST(tw AS DOUBLE), 6) END AS mu_treated,
       |  CASE WHEN COALESCE(degi, 1) = 0 AND tw > 0 AND cw > 0 THEN
       |    round(CAST(cy AS DOUBLE) / CAST(cw AS DOUBLE), 6) END AS mu_control,
       |  CASE WHEN COALESCE(degi, 1) = 0 AND tw > 0 AND cw > 0 THEN
       |    round(CAST(ty AS DOUBLE) / CAST(tw AS DOUBLE)
       |      - CAST(cy AS DOUBLE) / CAST(cw AS DOUBLE), 6) END AS ate
       |FROM ag""".stripMargin
  }

  /** Positivity / common-support audit ([[graft.ops.Regression
    * .positivityAudit]]) on q_ipw's exact causal frame: the propensity
    * P(heavy viewer | ln(1+clicks)) from the SAME Newton chain, clipped
    * and micro-quantized, binned 200-wide (the fixture's propensity
    * range is narrow, so a 20-bin grid collapses to ~1 occupied row —
    * 200 resolves the occupancy structure the audit exists to show) —
    * per occupied bin, treated
    * and control counts and integral-micro arm shares. Bins where
    * either count is 0 are the overlap violations every IPW/AIPW/PSM
    * number silently assumes away; Σ min-shares is the overlap
    * coefficient. The oracle replays training CTE-for-CTE, then the
    * identical clip → micro-round → integer binning.
    */
  private def qPositivity(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events").groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"))
    graft.ops.Regression.positivityAudit(perUser,
      col("views") >= 14, log(lit(1.0) + col("clicks")),
      iterations = 4, bins = 200)
  }

  private def positivityOracleSql: String = {
    val iters = logitTrainCtes(4)
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
       |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks
       |  FROM events GROUP BY 1),
       |base AS (
       |  SELECT * FROM (
       |    SELECT CASE WHEN views >= 14 THEN 1.0 ELSE 0.0 END AS y,
       |      ln(1.0 + clicks) AS x
       |    FROM pu) b
       |  WHERE y IS NOT NULL AND x IS NOT NULL),
       |i0 AS (SELECT CAST(0 AS BIGINT) AS b0n, CAST(0 AS BIGINT) AS b1n, FALSE AS deg),
       |$iters,
       |w AS (
       |  SELECT y,
       |    LEAST(GREATEST(1.0 / (1.0 + exp(-(CAST(b0n AS DOUBLE) / 1000000000.0
       |      + CAST(b1n AS DOUBLE) / 1000000000.0 * x))), 0.01), 0.99) AS pc
       |  FROM base CROSS JOIN i4),
       |b AS (
       |  SELECT y,
       |    LEAST((CAST(round(pc * 1000000.0) AS BIGINT) * 200) // 1000000,
       |      199) AS bin
       |  FROM w),
       |g AS (
       |  SELECT bin,
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS nt,
       |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS nc
       |  FROM b GROUP BY 1),
       |t AS (SELECT SUM(nt) AS ntt, SUM(nc) AS ncc FROM g)
       |SELECT bin, CAST(nt AS BIGINT) AS n_treated,
       |  CAST(nc AS BIGINT) AS n_control,
       |  CASE WHEN ntt > 0 THEN
       |    CAST((CAST(nt AS HUGEINT) * 2000000 + ntt)
       |      // (CAST(ntt AS HUGEINT) * 2) AS BIGINT)
       |  END AS share_t_micros,
       |  CASE WHEN ncc > 0 THEN
       |    CAST((CAST(nc AS HUGEINT) * 2000000 + ncc)
       |      // (CAST(ncc AS HUGEINT) * 2) AS BIGINT)
       |  END AS share_c_micros,
       |  CASE WHEN ntt > 0 AND ncc > 0 THEN
       |    LEAST(CAST((CAST(nt AS HUGEINT) * 2000000 + ntt)
       |        // (CAST(ntt AS HUGEINT) * 2) AS BIGINT),
       |      CAST((CAST(nc AS HUGEINT) * 2000000 + ncc)
       |        // (CAST(ncc AS HUGEINT) * 2) AS BIGINT))
       |  END AS min_share_micros
       |FROM g CROSS JOIN t ORDER BY bin""".stripMargin
  }

  /** Covariate balance ([[graft.ops.Regression.covariateBalance]]) on
    * q_ipw's causal frame: standardized mean differences for the model
    * covariate ln(1+clicks) and the out-of-model spend, RAW and after
    * the same Hájek IPW weights — the reviewer's table (|SMD| < 0.1 =
    * balanced; a weighted SMD that doesn't shrink indicts the
    * propensity model, the diagnosis q_positivity's bin occupancy
    * can't make). The oracle replays training CTE-for-CTE, then the
    * identical nano-quantized moment sums and SMD trees.
    */
  private def qBalance(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events").groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
      coalesce(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long"))), lit(0L)).as("cents"))
    graft.ops.Regression.covariateBalance(perUser,
      col("views") >= 14, log(lit(1.0) + col("clicks")),
      Seq("ln1p_clicks" -> log(lit(1.0) + col("clicks")),
        "spend_dollars" -> (col("cents").cast("double") / lit(100.0))),
      iterations = 4)
  }

  private def balanceOracleSql: String = {
    val iters = logitTrainCtes(4)
    // per-covariate moment columns over the shared weighted pass
    def moms(c: String, i: Int): String =
      s"""    SUM(CASE WHEN y = 1.0 THEN CAST(round($c * 1000000000.0)
         |      AS HUGEINT) ELSE 0 END) AS s1t$i,
         |    SUM(CASE WHEN y = 1.0 THEN CAST(round($c * $c * 1000000000.0)
         |      AS HUGEINT) ELSE 0 END) AS s2t$i,
         |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE CAST(round($c * 1000000000.0)
         |      AS HUGEINT) END) AS s1c$i,
         |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE CAST(round($c * $c * 1000000000.0)
         |      AS HUGEINT) END) AS s2c$i,
         |    SUM(CASE WHEN y = 1.0 THEN CAST(round(w * 1000000000.0)
         |      AS HUGEINT) ELSE 0 END) AS wt$i,
         |    SUM(CASE WHEN y = 1.0 THEN CAST(round(w * $c * 1000000000.0)
         |      AS HUGEINT) ELSE 0 END) AS w1t$i,
         |    SUM(CASE WHEN y = 1.0 THEN CAST(round(w * $c * $c * 1000000000.0)
         |      AS HUGEINT) ELSE 0 END) AS w2t$i,
         |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE CAST(round(w * 1000000000.0)
         |      AS HUGEINT) END) AS wc$i,
         |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE CAST(round(w * $c * 1000000000.0)
         |      AS HUGEINT) END) AS w1c$i,
         |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE CAST(round(w * $c * $c * 1000000000.0)
         |      AS HUGEINT) END) AS w2c$i""".stripMargin
    // SMD tree on (sum1, sum2, denominator-expr) pairs — identical IEEE
    // shape to the engine's: mu = (s1/1e9)/d, v = (s2/1e9)/d - mu*mu
    // vt/vc parenthesized as single terms so the SQL's vt + vc groups
    // exactly like the engine's ((A−B) + (C−D)) — bare A−B+C−D would
    // associate ((A−B)+C)−D, a 1-ULP-divergence surface
    def vterm(s1: String, s2: String, d: String): String =
      s"""((CAST($s2 AS DOUBLE) / 1000000000.0) / $d
         |      - ((CAST($s1 AS DOUBLE) / 1000000000.0) / $d)
         |        * ((CAST($s1 AS DOUBLE) / 1000000000.0) / $d))""".stripMargin
    def smd(s1t: String, s2t: String, dt: String,
            s1c: String, s2c: String, dc: String): String =
      s"""CASE WHEN
         |    ${vterm(s1t, s2t, dt)}
         |    + ${vterm(s1c, s2c, dc)} > 0.0
         |  THEN round(((CAST($s1t AS DOUBLE) / 1000000000.0) / $dt
         |      - (CAST($s1c AS DOUBLE) / 1000000000.0) / $dc)
         |    / sqrt((${vterm(s1t, s2t, dt)}
         |      + ${vterm(s1c, s2c, dc)}) / 2.0), 6)
         |  END""".stripMargin
    def covRow(name: String, i: Int): String =
      s"""SELECT '$name' AS covariate, CAST(nt AS BIGINT) AS n_treated,
         |  CAST(nc AS BIGINT) AS n_control,
         |  CASE WHEN nt > 0 AND nc > 0 THEN
         |    ${smd(s"s1t$i", s"s2t$i", "CAST(nt AS DOUBLE)",
        s"s1c$i", s"s2c$i", "CAST(nc AS DOUBLE)")}
         |  END AS smd_raw,
         |  CASE WHEN nt > 0 AND nc > 0 AND wt$i > 0 AND wc$i > 0 THEN
         |    ${smd(s"w1t$i", s"w2t$i", s"(CAST(wt$i AS DOUBLE) / 1000000000.0)",
        s"w1c$i", s"w2c$i", s"(CAST(wc$i AS DOUBLE) / 1000000000.0)")}
         |  END AS smd_weighted
         |FROM ag""".stripMargin
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
       |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
       |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS cents
       |  FROM events GROUP BY 1),
       |base AS (
       |  SELECT * FROM (
       |    SELECT CASE WHEN views >= 14 THEN 1.0 ELSE 0.0 END AS y,
       |      ln(1.0 + clicks) AS x,
       |      ln(1.0 + clicks) AS c0,
       |      CAST(cents AS DOUBLE) / 100.0 AS c1
       |    FROM pu) b
       |  WHERE y IS NOT NULL AND x IS NOT NULL
       |    AND c0 IS NOT NULL AND c1 IS NOT NULL),
       |i0 AS (SELECT CAST(0 AS BIGINT) AS b0n, CAST(0 AS BIGINT) AS b1n, FALSE AS deg),
       |$iters,
       |w AS (
       |  SELECT y, c0, c1,
       |    CASE WHEN y = 1.0 THEN 1.0 / pc ELSE 1.0 / (1.0 - pc) END AS w
       |  FROM (
       |    SELECT y, c0, c1,
       |      LEAST(GREATEST(1.0 / (1.0 + exp(-(CAST(b0n AS DOUBLE) / 1000000000.0
       |        + CAST(b1n AS DOUBLE) / 1000000000.0 * x))), 0.01), 0.99) AS pc
       |    FROM base CROSS JOIN i4) q),
       |ag AS (
       |  SELECT
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS nt,
       |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS nc,
       |${moms("c0", 0)},
       |${moms("c1", 1)}
       |  FROM w)
       |${covRow("ln1p_clicks", 0)}
       |UNION ALL
       |${covRow("spend_dollars", 1)}
       |ORDER BY covariate""".stripMargin
  }

  /** Doubly-robust AIPW treatment effect ([[graft.ops.Regression
    * .aipwAte]]): does heavy CLICKING (≥ 3 clicks) lift a user's
    * purchase spend, with view count as the confounder — propensity
    * from the shared Newton chain AND per-arm outcome regressions,
    * combined in the efficient influence function. `reg_ate` beside
    * `ate` shows the size of the IPW correction; `se` is the free
    * plug-in standard error. The oracle replays training, both arm
    * fits, and the influence pass CTE-for-CTE.
    */
  private def qAipw(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events").groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
      coalesce(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long"))), lit(0L)).as("cents"))
    graft.ops.Regression.aipwAte(perUser,
      col("clicks") >= 3, col("cents").cast("double") / lit(100.0),
      log(lit(1.0) + col("views")), iterations = 4)
  }

  private def aipwOracleSql: String = {
    val iters = logitTrainCtes(4)
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
       |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
       |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS cents
       |  FROM events GROUP BY 1),
       |base AS (
       |  SELECT CASE WHEN clicks >= 3 THEN 1.0 ELSE 0.0 END AS y,
       |    ln(1.0 + views) AS x,
       |    CAST(cents AS DOUBLE) / 100.0 AS o
       |  FROM pu),
       |i0 AS (SELECT CAST(0 AS BIGINT) AS b0n, CAST(0 AS BIGINT) AS b1n, FALSE AS deg),
       |$iters,
       |om AS (
       |  SELECT
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS n1,
       |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS n0,
       |    SUM(CASE WHEN y = 1.0
       |      THEN CAST(round(x * 1000000000.0) AS HUGEINT) ELSE 0 END) AS sx1,
       |    SUM(CASE WHEN y = 1.0
       |      THEN CAST(round(o * 1000000000.0) AS HUGEINT) ELSE 0 END) AS so1,
       |    SUM(CASE WHEN y = 1.0
       |      THEN CAST(round(x * o * 1000000000.0) AS HUGEINT) ELSE 0 END) AS sxo1,
       |    SUM(CASE WHEN y = 1.0
       |      THEN CAST(round(x * x * 1000000000.0) AS HUGEINT) ELSE 0 END) AS sxx1,
       |    SUM(CASE WHEN y = 1.0 THEN 0
       |      ELSE CAST(round(x * 1000000000.0) AS HUGEINT) END) AS sx0,
       |    SUM(CASE WHEN y = 1.0 THEN 0
       |      ELSE CAST(round(o * 1000000000.0) AS HUGEINT) END) AS so0,
       |    SUM(CASE WHEN y = 1.0 THEN 0
       |      ELSE CAST(round(x * o * 1000000000.0) AS HUGEINT) END) AS sxo0,
       |    SUM(CASE WHEN y = 1.0 THEN 0
       |      ELSE CAST(round(x * x * 1000000000.0) AS HUGEINT) END) AS sxx0
       |  FROM base),
       |omd AS (
       |  SELECT CAST(n1 AS DOUBLE) AS nd1, CAST(n0 AS DOUBLE) AS nd0,
       |    CAST(sx1 AS DOUBLE) / 1000000000.0 AS sx1,
       |    CAST(so1 AS DOUBLE) / 1000000000.0 AS so1,
       |    CAST(sxo1 AS DOUBLE) / 1000000000.0 AS sxo1,
       |    CAST(sxx1 AS DOUBLE) / 1000000000.0 AS sxx1,
       |    CAST(sx0 AS DOUBLE) / 1000000000.0 AS sx0,
       |    CAST(so0 AS DOUBLE) / 1000000000.0 AS so0,
       |    CAST(sxo0 AS DOUBLE) / 1000000000.0 AS sxo0,
       |    CAST(sxx0 AS DOUBLE) / 1000000000.0 AS sxx0
       |  FROM om),
       |sl AS (
       |  SELECT nd1, nd0, sx1, so1, sx0, so0,
       |    CASE WHEN nd1 * sxx1 - sx1 * sx1 > 0.0
       |      THEN (nd1 * sxo1 - sx1 * so1) / (nd1 * sxx1 - sx1 * sx1)
       |      ELSE 0.0 END AS s1,
       |    CASE WHEN nd0 * sxx0 - sx0 * sx0 > 0.0
       |      THEN (nd0 * sxo0 - sx0 * so0) / (nd0 * sxx0 - sx0 * sx0)
       |      ELSE 0.0 END AS s0
       |  FROM omd),
       |ft AS (
       |  SELECT
       |    CAST(round(s1 * 1000000000.0) AS BIGINT) AS s1n,
       |    CASE WHEN nd1 > 0.0 THEN
       |      CAST(round((so1 - s1 * sx1) / nd1 * 1000000000.0) AS BIGINT)
       |    ELSE 0 END AS a1n,
       |    CAST(round(s0 * 1000000000.0) AS BIGINT) AS s0n,
       |    CASE WHEN nd0 > 0.0 THEN
       |      CAST(round((so0 - s0 * sx0) / nd0 * 1000000000.0) AS BIGINT)
       |    ELSE 0 END AS a0n
       |  FROM sl),
       |w AS (
       |  SELECT y, o, deg,
       |    CAST(b0n AS DOUBLE) / 1000000000.0 AS b0,
       |    CAST(b1n AS DOUBLE) / 1000000000.0 AS b1,
       |    LEAST(GREATEST(1.0 / (1.0 + exp(-(CAST(b0n AS DOUBLE) / 1000000000.0
       |      + CAST(b1n AS DOUBLE) / 1000000000.0 * x))), 0.01), 0.99) AS pc,
       |    CAST(a1n AS DOUBLE) / 1000000000.0
       |      + CAST(s1n AS DOUBLE) / 1000000000.0 * x AS mu1,
       |    CAST(a0n AS DOUBLE) / 1000000000.0
       |      + CAST(s0n AS DOUBLE) / 1000000000.0 * x AS mu0
       |  FROM base CROSS JOIN i4 CROSS JOIN ft),
       |ag AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS nt,
       |    MAX(b0) AS b0, MAX(b1) AS b1, MAX(CAST(deg AS INT)) AS degi,
       |    SUM(CAST(round((mu1 - mu0 + CASE WHEN y = 1.0
       |        THEN (o - mu1) / pc ELSE -((o - mu0)) / (1.0 - pc) END)
       |      * 1000000000.0) AS HUGEINT)) AS ps,
       |    SUM(CAST(round((mu1 - mu0 + CASE WHEN y = 1.0
       |        THEN (o - mu1) / pc ELSE -((o - mu0)) / (1.0 - pc) END)
       |      * (mu1 - mu0 + CASE WHEN y = 1.0
       |        THEN (o - mu1) / pc ELSE -((o - mu0)) / (1.0 - pc) END)
       |      * 1000000000.0) AS HUGEINT)) AS ps2,
       |    SUM(CAST(round((mu1 - mu0) * 1000000000.0) AS HUGEINT)) AS rg
       |  FROM w)
       |SELECT n, CAST(nt AS BIGINT) AS n_treated,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN round(b0, 6) END AS b0,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN round(b1, 6) END AS b1,
       |  CASE WHEN COALESCE(degi, 1) = 0 AND nt > 0 AND n - nt > 0 THEN
       |    round(CAST(rg AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE), 6)
       |  END AS reg_ate,
       |  CASE WHEN COALESCE(degi, 1) = 0 AND nt > 0 AND n - nt > 0 THEN
       |    round(CAST(ps AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE), 6)
       |  END AS ate,
       |  CASE WHEN COALESCE(degi, 1) = 0 AND nt > 0 AND n - nt > 0
       |      AND CAST(ps2 AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)
       |      - (CAST(ps AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE))
       |        * (CAST(ps AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)) >= 0.0
       |    THEN round(sqrt((CAST(ps2 AS DOUBLE) / 1000000000.0
       |        / CAST(n AS DOUBLE)
       |      - (CAST(ps AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE))
       |        * (CAST(ps AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE)))
       |      / CAST(n AS DOUBLE)), 6)
       |  END AS se
       |FROM ag""".stripMargin
  }

  /** Propensity-score caliper matching ([[graft.ops.Regression
    * .psmAtt]]): the ATT companion to q_ipw's ATE on the same causal
    * frame — heavy viewers (≥ 14 views) matched 1-NN to the nearest
    * control on the micro-quantized click-propensity grid, pairs
    * beyond the 0.05 caliper dropped. The oracle replays training,
    * the grid collapse, and the nearest-control window CTE-for-CTE.
    */
  private def qPsm(s: SparkSession, dir: String): DataFrame = {
    // user_id IS NOT NULL on BOTH sides (engine filters non-castable ids
    // internally; the oracle would keep a NULL group — the r12 ADVICE
    // latent-divergence note), matching q_removal/q_gst/q_twfe's posture
    val perUser = t(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
      coalesce(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long"))), lit(0L)).as("cents"))
    graft.ops.Regression.psmAtt(perUser, col("user_id"),
      col("views") >= 14, col("cents").cast("double") / lit(100.0),
      log(lit(1.0) + col("clicks")), caliperMicros = 50000L, iterations = 4)
  }

  private def psmOracleSql: String = {
    val iters = logitTrainCtes(4)
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
       |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
       |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS cents
       |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       |base AS (
       |  SELECT user_id AS id,
       |    CASE WHEN views >= 14 THEN 1.0 ELSE 0.0 END AS y,
       |    ln(1.0 + clicks) AS x,
       |    CAST(cents AS DOUBLE) / 100.0 AS o
       |  FROM pu),
       |i0 AS (SELECT CAST(0 AS BIGINT) AS b0n, CAST(0 AS BIGINT) AS b1n, FALSE AS deg),
       |$iters,
       |pmr AS (
       |  SELECT id, y = 1.0 AS t, o,
       |    CAST(round(1.0 / (1.0 + exp(-(CAST(b0n AS DOUBLE) / 1000000000.0
       |      + CAST(b1n AS DOUBLE) / 1000000000.0 * x))) * 1000000.0)
       |      AS BIGINT) AS pm,
       |    CAST(b0n AS DOUBLE) / 1000000000.0 AS b0,
       |    CAST(b1n AS DOUBLE) / 1000000000.0 AS b1
       |  FROM base CROSS JOIN i4),
       |grid AS (
       |  SELECT pm, t, COUNT(*) AS cnt,
       |    SUM(CASE WHEN t THEN CAST(round(o * 1000000000.0) AS HUGEINT)
       |      ELSE 0 END) AS t_sum,
       |    MIN_BY(CAST(round(o * 1000000000.0) AS HUGEINT), id) AS rep_o
       |  FROM pmr GROUP BY 1, 2),
       |nb AS (
       |  SELECT pm, t, cnt, t_sum,
       |    last_value(CASE WHEN NOT t THEN pm END IGNORE NULLS)
       |      OVER (ORDER BY pm, t
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ppm,
       |    last_value(CASE WHEN NOT t THEN rep_o END IGNORE NULLS)
       |      OVER (ORDER BY pm, t
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prep,
       |    first_value(CASE WHEN NOT t THEN pm END IGNORE NULLS)
       |      OVER (ORDER BY pm, t
       |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS npm,
       |    first_value(CASE WHEN NOT t THEN rep_o END IGNORE NULLS)
       |      OVER (ORDER BY pm, t
       |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nrep
       |  FROM grid),
       |mt AS (
       |  SELECT cnt, t_sum,
       |    CASE WHEN pm - ppm IS NOT NULL
       |        AND (npm - pm IS NULL OR pm - ppm <= npm - pm)
       |      THEN pm - ppm ELSE npm - pm END AS d,
       |    CASE WHEN pm - ppm IS NOT NULL
       |        AND (npm - pm IS NULL OR pm - ppm <= npm - pm)
       |      THEN prep ELSE nrep END AS mrep
       |  FROM nb WHERE t),
       |att AS (
       |  SELECT SUM(cnt) AS nm, SUM(t_sum) AS ty,
       |    SUM(mrep * CAST(cnt AS HUGEINT)) AS cy
       |  FROM mt WHERE d IS NOT NULL AND d <= 50000),
       |tot AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS nt,
       |    MAX(CAST(b0n AS DOUBLE) / 1000000000.0) AS b0,
       |    MAX(CAST(b1n AS DOUBLE) / 1000000000.0) AS b1,
       |    MAX(CAST(deg AS INT)) AS degi
       |  FROM base CROSS JOIN i4)
       |SELECT n, CAST(nt AS BIGINT) AS n_treated,
       |  COALESCE(CAST(nm AS BIGINT), 0) AS n_matched,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN round(b0, 6) END AS b0,
       |  CASE WHEN COALESCE(degi, 1) = 0 THEN round(b1, 6) END AS b1,
       |  CASE WHEN COALESCE(degi, 1) = 0 AND nm IS NOT NULL AND nm > 0 THEN
       |    round((CAST(ty AS DOUBLE) / 1000000000.0
       |        - CAST(cy AS DOUBLE) / 1000000000.0)
       |      / CAST(nm AS DOUBLE), 6)
       |  END AS att
       |FROM tot CROSS JOIN att""".stripMargin
  }

  /** Two-way fixed effects ([[graft.ops.Regression.twoWayFixedEffects]]):
    * on the (user, day) panel, does daily VIEWING move daily SPEND once
    * user-level taste and day-level shocks are both absorbed — the
    * within estimator behind modern DiD, with no dummy matrix ever
    * materialized. Three keyed mean passes + one moment scan.
    */
  private def qTwfe(s: SparkSession, dir: String): DataFrame = {
    val panel = t(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
          .as("day"))
      .agg(coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))), lit(0L)).as("cents"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
    graft.ops.Regression.twoWayFixedEffects(panel, col("user_id"), col("day"),
      col("cents").cast("double") / lit(100.0), col("views").cast("double"))
  }

  private def twfeOracleSql: String =
    """WITH p AS (
      |  SELECT user_id AS i,
      |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS t,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS DOUBLE)
      |      / 100.0 AS y,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS x
      |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      |ent AS (
      |  SELECT i, COUNT(*) AS ni,
      |    SUM(CAST(round(y * 1000000000.0) AS HUGEINT)) AS syi,
      |    SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS sxi
      |  FROM p GROUP BY 1),
      |tim AS (
      |  SELECT t, COUNT(*) AS nt,
      |    SUM(CAST(round(y * 1000000000.0) AS HUGEINT)) AS syt,
      |    SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS sxt
      |  FROM p GROUP BY 1),
      |g AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CAST(round(y * 1000000000.0) AS HUGEINT)) AS sy,
      |    SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS sx
      |  FROM p),
      |dm AS (
      |  SELECT
      |    y - CAST(syi AS DOUBLE) / 1000000000.0 / CAST(ni AS DOUBLE)
      |      - CAST(syt AS DOUBLE) / 1000000000.0 / CAST(nt AS DOUBLE)
      |      + CAST(sy AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE) AS yt,
      |    x - CAST(sxi AS DOUBLE) / 1000000000.0 / CAST(ni AS DOUBLE)
      |      - CAST(sxt AS DOUBLE) / 1000000000.0 / CAST(nt AS DOUBLE)
      |      + CAST(sx AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE) AS xt
      |  FROM p JOIN ent USING (i) JOIN tim USING (t) CROSS JOIN g),
      |m AS (
      |  SELECT
      |    SUM(CAST(round(xt * yt * 1000000000.0) AS HUGEINT)) AS sxy,
      |    SUM(CAST(round(xt * xt * 1000000000.0) AS HUGEINT)) AS sxx,
      |    SUM(CAST(round(yt * yt * 1000000000.0) AS HUGEINT)) AS syy
      |  FROM dm),
      |c AS (
      |  SELECT COUNT(*) AS n, COUNT(DISTINCT i) AS ne, COUNT(DISTINCT t) AS np
      |  FROM p)
      |SELECT n, CAST(ne AS BIGINT) AS n_entities, CAST(np AS BIGINT) AS n_periods,
      |  CASE WHEN sxx > 0 AND CAST(n AS DOUBLE) - CAST(ne AS DOUBLE)
      |      - CAST(np AS DOUBLE) + 1.0 > 0.0
      |    THEN round(CAST(sxy AS DOUBLE) / 1000000000.0
      |      / (CAST(sxx AS DOUBLE) / 1000000000.0), 6) END AS beta,
      |  CASE WHEN sxx > 0 AND CAST(n AS DOUBLE) - CAST(ne AS DOUBLE)
      |      - CAST(np AS DOUBLE) + 1.0 > 0.0
      |    AND (CAST(syy AS DOUBLE) / 1000000000.0
      |      - CAST(sxy AS DOUBLE) / 1000000000.0
      |        / (CAST(sxx AS DOUBLE) / 1000000000.0)
      |        * (CAST(sxy AS DOUBLE) / 1000000000.0))
      |      / (CAST(n AS DOUBLE) - CAST(ne AS DOUBLE)
      |        - CAST(np AS DOUBLE) + 1.0) >= 0.0
      |    THEN round(sqrt(((CAST(syy AS DOUBLE) / 1000000000.0
      |      - CAST(sxy AS DOUBLE) / 1000000000.0
      |        / (CAST(sxx AS DOUBLE) / 1000000000.0)
      |        * (CAST(sxy AS DOUBLE) / 1000000000.0))
      |      / (CAST(n AS DOUBLE) - CAST(ne AS DOUBLE)
      |        - CAST(np AS DOUBLE) + 1.0))
      |      / (CAST(sxx AS DOUBLE) / 1000000000.0)), 6) END AS se
      |FROM c CROSS JOIN m""".stripMargin

  /** Deterministic RANSAC ([[graft.ops.Regression.ransacLine]]): the
    * consensus line through (purchases, spend) per user — big
    * whale-spend outliers pull OLS off the typical relationship;
    * RANSAC fits the majority and reports how many users it explains
    * within ε = $5. md5-ordered candidate sample, two scans total.
    */
  private def qRansac(s: SparkSession, dir: String): DataFrame = {
    val pu = t(s, dir, "events").filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))), lit(0L)).as("cents"))
    graft.ops.Regression.ransacLine(pu, col("user_id"),
      col("purchases").cast("double"),
      col("cents").cast("double") / lit(100.0),
      candidates = 16, epsMicros = 5000000L)
  }

  private def ransacOracleSql: String =
    """WITH pu AS (
      |  SELECT CAST(user_id AS VARCHAR) AS id,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS x,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS DOUBLE)
      |      / 100.0 AS y
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |samp AS (
      |  SELECT * FROM (SELECT id, x, y, md5('ransac:' || id) AS h FROM pu) s
      |  ORDER BY h, id LIMIT 32),
      |pr AS (SELECT x, y, row_number() OVER (ORDER BY h, id) AS rn FROM samp),
      |ln AS (
      |  SELECT (rn - 1) // 2 AS c,
      |    MAX(CASE WHEN rn % 2 = 1 THEN x END) AS x1,
      |    MAX(CASE WHEN rn % 2 = 1 THEN y END) AS y1,
      |    MAX(CASE WHEN rn % 2 = 0 THEN x END) AS x2,
      |    MAX(CASE WHEN rn % 2 = 0 THEN y END) AS y2
      |  FROM pr GROUP BY 1),
      |lv AS (
      |  SELECT c, y1 - (y2 - y1) / (x2 - x1) * x1 AS a,
      |    (y2 - y1) / (x2 - x1) AS b
      |  FROM ln WHERE x2 IS NOT NULL AND x1 <> x2),
      |sc AS (
      |  SELECT c, a, b,
      |    SUM(CASE WHEN abs(y - (a + b * x)) <= 5.0 THEN 1 ELSE 0 END)
      |      AS n_inliers
      |  FROM pu CROSS JOIN lv GROUP BY 1, 2, 3),
      |best AS (SELECT * FROM sc ORDER BY n_inliers DESC, c LIMIT 1),
      |rf AS (
      |  SELECT COUNT(*) AS m,
      |    SUM(CAST(round(x * 1000000000.0) AS HUGEINT)) AS sx,
      |    SUM(CAST(round(y * 1000000000.0) AS HUGEINT)) AS sy,
      |    SUM(CAST(round(x * y * 1000000000.0) AS HUGEINT)) AS sxy,
      |    SUM(CAST(round(x * x * 1000000000.0) AS HUGEINT)) AS sxx
      |  FROM pu CROSS JOIN best WHERE abs(y - (a + b * x)) <= 5.0),
      |tot AS (SELECT COUNT(*) AS n FROM pu),
      |fin AS (
      |  SELECT n, c, n_inliers, CAST(m AS DOUBLE) AS md,
      |    CAST(sx AS DOUBLE) / 1000000000.0 AS sxd,
      |    CAST(sy AS DOUBLE) / 1000000000.0 AS syd,
      |    CAST(sxy AS DOUBLE) / 1000000000.0 AS sxyd,
      |    CAST(sxx AS DOUBLE) / 1000000000.0 AS sxxd
      |  FROM tot CROSS JOIN best CROSS JOIN rf)
      |SELECT n, CAST(16 AS BIGINT) AS n_candidates,
      |  CAST(c AS BIGINT) AS best_candidate,
      |  CAST(n_inliers AS BIGINT) AS n_inliers,
      |  CASE WHEN md * sxxd - sxd * sxd > 0.0 THEN
      |    round((syd - (md * sxyd - sxd * syd) / (md * sxxd - sxd * sxd)
      |      * sxd) / md, 6) END AS b0,
      |  CASE WHEN md * sxxd - sxd * sxd > 0.0 THEN
      |    round((md * sxyd - sxd * syd) / (md * sxxd - sxd * sxd), 6)
      |  END AS b1
      |FROM fin""".stripMargin

  /** CUPED adjustment ([[graft.ops.Stats.cuped]]): per-user purchase
    * revenue compared across id-parity arms with the user's view count
    * as the variance-reducing covariate — the experimentation
    * platform's standard pre-period adjustment, one user-keyed
    * aggregation then one grand moment pass.
    */
  private def qCuped(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))).as("__cents"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
      .filter(col("__cents").isNotNull)
      .select(col("user_id"),
        (col("__cents").cast("double") / lit(100.0)).as("purchase_value"),
        col("views").cast("double").as("views"))
    graft.ops.Stats.cuped(perUser,
      col("user_id") % 2 === 0, col("user_id") % 2 === 1,
      col("purchase_value"), col("views"))
  }

  /** Chi-square independence ([[graft.ops.Stats.chiSquareIndependence]]):
    * is document language balanced across sources? Cell counts exact,
    * marginals as windows, per-cell terms nano-quantized before the sum.
    */
  private def qChi2(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.chiSquareIndependence(t(s, dir, "documents"),
      col("lang"), col("source"))

  /** k-anonymity / l-diversity audit ([[graft.ops.Profile
    * .kAnonymity]]): if customers left the pipeline keyed by
    * (nation, market segment), how identifiable are they — the smallest
    * quasi-ID group (k), the least-diverse group's distinct account
    * balances (l), and the share of rows in groups under k = 5. The
    * privacy gate a curated release runs LAST; one keyed aggregation.
    */
  private def qKAnon(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.kAnonymity(t(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), col("c_acctbal"), kThreshold = 5L)

  /** t-closeness audit ([[graft.ops.Profile.tCloseness]]): beyond
    * q_k_anon's size/diversity gates, does any nation's market-segment
    * MIX differ from the global mix by more than t = 0.1 total
    * variation — the distributional leak k-anonymity can't see. Exact
    * common-denominator TV arithmetic end-to-end; one keyed
    * aggregation plus a broadcast category join.
    */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.tCloseness(t(s, dir, "customer"),
      Seq("c_nationkey"), col("c_mktsegment"), tMicros = 100000L)

  /** Theil's uncertainty coefficient ([[graft.ops.Stats
    * .uncertaintyCoefficient]]): HOW STRONGLY, and in WHICH DIRECTION,
    * does source predict language on q_chi2's same lang×source table —
    * U(lang|source) vs U(source|lang) from one cell pass, integer-arg
    * entropy terms throughout. The directional strength χ²'s verdict
    * and q_mutual_info's raw nats both leave unquantified.
    */
  private def qUncertainty(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.uncertaintyCoefficient(t(s, dir, "documents"),
      col("source"), col("lang"))

  /** Mann-Whitney U ([[graft.ops.Stats.mannWhitneyU]]): q_welch's
    * nonparametric sibling — purchase vs click value distributions per
    * user segment, ranks collapsed to the distinct-value layer so 2·U,
    * the tie term, and the tie-corrected z are exact under any
    * partitioning.
    */
  private def qMannwhitney(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 4)
    graft.ops.Stats.mannWhitneyU(e, Seq("segment"),
        col("event_type") === "purchase", col("event_type") === "click",
        col("value"))
      .orderBy(col("segment"))
  }

  /** Cliff's delta ([[graft.ops.Stats.cliffsDelta]]): the effect-size
    * companion to q_mannwhitney on the same purchase-vs-click values per
    * segment — HOW OFTEN does a purchase beat a click, distribution-
    * free. Pair counts collapse onto the distinct-value layer (two
    * cumulative windows over values, never an all-pairs join), so
    * gt/lt pair totals are exact decimals and δ one IEEE division.
    */
  private def qCliffs(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 4)
    graft.ops.Stats.cliffsDelta(e, Seq("segment"),
        col("event_type") === "purchase", col("event_type") === "click",
        col("value"))
      .orderBy(col("segment"))
  }

  /** Per-group ridge trend ([[graft.ops.Regression.groupRidge]]):
    * q_ols_trend's slope re-fit with L2 shrinkage λ=5 day² — the
    * stabilized per-series trend a metrics store quotes when series are
    * short (emitted beside the raw OLS slope so the shrinkage is
    * visible). Same one-pass exact decimal moments; λ enters the
    * denominator as an exact micro² integer.
    */
  private def qRidge(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val day = floor(unix_micros(col("ts")) / lit(86400000000L)) - lit(19723L)
    graft.ops.Regression.groupRidge(e, Seq("event_type"), day, col("value"),
        lambda = 5.0)
      .orderBy(col("event_type"))
  }

  /** Variance inflation factors ([[graft.ops.Regression.vif3]]) for the
    * (quantity, extended price, discount) lineitem design: extended
    * price is mostly quantity × unit price, so its VIF against quantity
    * should light up while discount stays near 1 — the multicollinearity
    * audit to run before anyone multi-regresses on these. Nine exact
    * second moments in one map-combined pass, closed-form VIFs.
    */
  private def qVif(s: SparkSession, dir: String): DataFrame =
    graft.ops.Regression.vif3(t(s, dir, "lineitem"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"))

  /** Spearman rank correlation ([[graft.ops.Stats.spearman]]): the
    * monotone complement of q_corr's Pearson — quantity vs price per
    * return flag, doubled average ranks from the two-sided rank()
    * identity, Pearson moments over exact integers.
    */
  private def qSpearman(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.spearman(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_returnflag"))

  /** Exact grouped quantiles ([[graft.ops.Stats.exactQuantiles]]):
    * quartiles + p95 of extended price per return flag in rational
    * integer interpolation — the hash-exact complement of
    * q_quantile_bound's approx law (float `percentile` trees differ
    * across engines in the last ulp; this formulation cannot).
    */
  private def qQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.exactQuantiles(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"), Seq((1, 4), (1, 2), (3, 4), (19, 20)))
      .orderBy(col("l_returnflag"), col("p_num"), col("p_den"))

  /** Revenue concentration ([[graft.ops.Stats.concentration]]): HHI and
    * top-supplier share of extended price per return flag — the
    * dominance screen (a training mix or market with hhi near 1 hangs
    * off one entity). Exact decimal share arithmetic.
    */
  private def qConcentration(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.concentration(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_suppkey", col("l_extendedprice"))
      .orderBy(col("l_returnflag"))

  /** Theil T/L and Atkinson inequality indices
    * ([[graft.ops.Stats.inequality]]) over q_concentration's
    * supplier-revenue distribution: the information-theoretic
    * inequality picture next to Gini/HHI. Per-entity log terms
    * nano-quantize before the group sums, so the distributed rollup
    * hash-matches DuckDB's.
    */
  private def qInequality(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.inequality(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_suppkey", col("l_extendedprice"))
      .orderBy(col("l_returnflag"))

  /** Lorenz-curve decile points ([[graft.ops.Stats.lorenzDeciles]]) for
    * the same supplier-revenue distribution: the cumulative value share
    * at each population tenth — the curve q_concentration's Gini
    * summarizes. Integer decile cuts, exact decimal prefix sums.
    */
  private def qLorenz(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.lorenzDeciles(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_suppkey", col("l_extendedprice"))
      .orderBy(col("l_returnflag"), col("decile"))

  /** One-way ANOVA ([[graft.ops.Stats.anovaOneWay]]): do the five event
    * types differ in mean value? Per-group exact moments, nano-quantized
    * SSB/SSW terms (the chi2 discipline), one F at the end.
    */
  private def qAnova(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.anovaOneWay(t(s, dir, "events"),
      col("event_type"), col("value"))

  /** Per-segment KS + Benjamini-Hochberg
    * ([[graft.ops.Drift.ksStatisticGrouped]] →
    * [[graft.ops.Stats.benjaminiHochberg]]): purchase-vs-click value
    * drift tested in 8 user segments, then FDR-corrected — the
    * fan-out-then-correct shape every segment-level monitoring sweep
    * needs (8 uncorrected tests at α=0.1 would false-alarm ~0.57 of
    * clean runs).
    */
  private def qFdr(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("segment", col("user_id") % 8)
    val ks = graft.ops.Drift.ksStatisticGrouped(e, Seq("segment"),
      col("event_type") === "purchase", col("event_type") === "click",
      col("value"))
    graft.ops.Stats.benjaminiHochberg(ks, col("p"), alpha = 0.1,
        tieBreak = Seq(col("segment")))
      .select(col("segment"), col("n_a"), col("n_b"), col("d_num"),
        col("ks"), col("p"), col("bh_rank"), col("bh_q"), col("bh_reject"))
      .orderBy(col("segment"))
  }

  /** Mutual information ([[graft.ops.Stats.mutualInformation]]): how
    * many nats does a document's language tell you about its source —
    * q_chi2's question answered in information units, integer-arg ln
    * terms nano-quantized before the cell sum.
    */
  private def qMutualInfo(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.mutualInformation(t(s, dir, "documents"),
      col("lang"), col("source"))

  /** Weighted quantiles ([[graft.ops.Stats.weightedQuantiles]]): the
    * quantity-weighted price quartiles per return flag — half the
    * VOLUME trades below the weighted median price, the index-number
    * question q_quantiles' unweighted ranks can't answer. Integer
    * crossing test, no float thresholds.
    */
  private def qWeightedMedian(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.weightedQuantiles(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"), col("l_quantity"), Seq((1, 4), (1, 2), (3, 4)))
      .orderBy(col("l_returnflag"), col("p_num"), col("p_den"))

  /** Exact trimmed mean ([[graft.ops.Stats.trimmedMean]]): the 5%-each-
    * side robust center of extended price per return flag — integer
    * trim counts, decimal-exact kept sums.
    */
  private def qTrimmedMean(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.trimmedMean(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice"), trimNum = 1, trimDen = 20)
      .orderBy(col("l_returnflag"))

  /** Poisson bootstrap CI ([[graft.ops.Stats.poissonBootstrapMeanCI]]):
    * a 32-replicate deterministic bootstrap on mean order value per
    * priority — every replicate multiplicity drawn from a seeded md5
    * ladder, so the DuckDB oracle replays the full resampling
    * bit-for-bit (a float-RNG bootstrap never could).
    */
  private def qBootstrap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.poissonBootstrapMeanCI(t(s, dir, "orders"),
        Seq("o_orderpriority"), "o_orderkey", col("o_totalprice"),
        replicates = 32, seed = "boot")
      .orderBy(col("o_orderpriority"))

  /** Jensen-Shannon divergence ([[graft.ops.Drift.jsDivergence]]): the
    * bounded symmetric distance between src0 and src1 token
    * distributions — q_vocab_drift's PSI needs a top-N+OTHER scheme and
    * smoothing; JSD takes the full vocabulary raw (zeros are exact
    * zeros), with every log reduced to integer arguments.
    */
  /** Total variation distance ([[graft.ops.Drift.totalVariation]])
    * between src0 and src1 token distributions: the worst-case
    * probability disagreement beside q_jsd's information-theoretic
    * view — and the exact one (cleared integers, no logarithm), so
    * the drift alarm threshold is auditable to the last digit.
    */
  private def qTvd(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    def toks(src: String) = d.filter(col("source") === src)
      .select(explode(graft.text.TextStats.tokens(col("text"))).as("token"))
    graft.ops.Drift.totalVariation(toks("src0"), toks("src1"), "token")
  }

  private def qJsd(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    def toks(src: String) = d.filter(col("source") === src)
      .select(explode(graft.text.TextStats.tokens(col("text"))).as("token"))
    graft.ops.Drift.jsDivergence(toks("src0"), toks("src1"), "token")
  }

  /** Two-proportion z-test ([[graft.ops.Stats.twoProportionZ]]): do
    * clicks convert to high-value (> 100) at a different rate than
    * views — the pooled-SE difference test q_ab_ci's per-arm intervals
    * stop short of. One conditional aggregation, exact counts.
    */
  private def qTwoProp(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.twoProportionZ(t(s, dir, "events"),
      col("event_type") === "click", col("event_type") === "view",
      col("value") > 100.0)

  /** Chi-square cell residuals ([[graft.ops.Stats.chiSquareResiduals]]):
    * WHICH lang×source cells drive q_chi2's association — Haberman
    * adjusted residuals, one fixed IEEE tree per cell over exact
    * marginals.
    */
  private def qChi2Cells(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.chiSquareResiduals(t(s, dir, "documents"),
        col("lang"), col("source"))
      .orderBy(col("a"), col("b"))

  /** Cochran–Mantel–Haenszel ([[graft.ops.Stats.cmhTest]]): does
    * clicking (vs viewing) associate with a high-value event AFTER
    * controlling for the user segment — the stratified complement of
    * q_chi2 that a Simpson's reversal can't fool. Four user-id strata,
    * per-stratum terms nano-quantized, one grand aggregate.
    */
  private def qCmh(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.cmhTest(
      t(s, dir, "events").filter(col("event_type").isin("click", "view")),
      pmod(col("user_id"), lit(4)), col("event_type") === "click",
      col("value") > 100.0)

  /** Delete-a-group jackknife ([[graft.ops.Stats.jackknifeRatio]]): the
    * survey-statistics SE for revenue-per-unit — a RATIO of totals, the
    * estimator class where q_bootstrap's per-mean resampling doesn't
    * apply. 12 seeded-md5 groups, leave-one-out ratios nano-quantized,
    * exact cross-group moments.
    */
  private def qJackknife(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.jackknifeRatio(t(s, dir, "lineitem"), Seq("l_returnflag"),
        concat_ws(":", col("l_orderkey"), col("l_linenumber")),
        col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        col("l_quantity"), groups = 12, seed = "jk")
      .orderBy(col("l_returnflag"))

  /** Wilcoxon signed-rank test
    * ([[graft.ops.Stats.wilcoxonSignedRank]]): per user-id segment, do
    * users spend differently on purchases than on clicks — each user
    * is their own control (mean purchase value − mean click value),
    * the paired design q_mannwhitney's independent-samples U cannot
    * express and q_paired_t can only test under normality. Exact
    * cent-sum means, micro-quantized differences, distinct-|d| rank
    * layer.
    */
  private def qWilcoxon(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .filter(col("value").isNotNull &&
        col("event_type").isin("purchase", "click"))
    val pairs = e.groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))).as("sp"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        sum(when(col("event_type") === "click",
          round(col("value") * 100).cast("long"))).as("sc"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("nc"))
      .filter(col("np") > 0 && col("nc") > 0)
      .select(pmod(col("user_id"), lit(4)).as("segment"),
        (col("sp").cast("double") / lit(100.0) / col("np") -
          col("sc").cast("double") / lit(100.0) / col("nc")).as("diff"))
    graft.ops.Stats.wilcoxonSignedRank(pairs, Seq("segment"), col("diff"))
      .orderBy(col("segment"))
  }

  /** Grubbs' max-deviation outlier test
    * ([[graft.ops.Stats.grubbsTest]]): per order priority, is the most
    * extreme order total a statistical outlier — the formal single-
    * suspect verdict beside q_outliers' bulk IQR flags, with the
    * suspect value named. Exact |n·x − S| deviations, one moment pass
    * plus one argmax pass on the same scan.
    */
  private def qGrubbs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.grubbsTest(t(s, dir, "orders"), Seq("o_orderpriority"),
        col("o_totalprice"))
      .orderBy(col("o_orderpriority"))

  /** Two-sample Poisson rate-ratio test
    * ([[graft.ops.Stats.poissonRateRatio]]): do even-id users generate
    * purchases at a different per-user intensity than odd-id users —
    * the count-data A/B readout where q_two_prop compares per-trial
    * proportions. Exact counts, integer-arg logs, one aggregation.
    */
  private def qRateRatio(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.poissonRateRatio(t(s, dir, "events"),
      pmod(col("user_id"), lit(2)) === 0, pmod(col("user_id"), lit(2)) === 1,
      col("event_type") === "purchase", col("user_id"))

  /** Welch's heteroscedastic ANOVA ([[graft.ops.Stats.welchAnova]]) on
    * event value by type: q_anova without the equal-variance assumption
    * — when the two disagree, THIS one is right (value spreads differ
    * wildly across event types). Exact group moments, per-group
    * quantized cross-group terms, two bounded rollups.
    */
  private def qWelchAnova(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.welchAnova(t(s, dir, "events"),
      col("event_type"), col("value"))

  /** Negative-binomial moment fit ([[graft.ops.Stats.negBinomialFit]])
    * on daily event counts per type: the (r, p) that q_dispersion's
    * verdict implies — small r = bursty arrivals, the capacity-planning
    * number. One exact count-moment pass.
    */
  private def qNegbin(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(count(lit(1)).as("c"))
    graft.ops.Stats.negBinomialFit(daily, Seq("event_type"), col("c"))
      .orderBy(col("event_type"))
  }

  /** Stratified ATE ([[graft.ops.Stats.stratifiedAte]]): even-vs-odd
    * user value effect with day-of-week strata — the design-respecting
    * A/B readout where q_welch's pooled difference would confound
    * weekday mix with treatment. Cochran weights, nano-quantized
    * per-stratum terms.
    */
  private def qStratAte(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.stratifiedAte(t(s, dir, "events"),
      dayofweek(col("ts")), pmod(col("user_id"), lit(2)) === 0, col("value"))

  /** Hampel median/MAD outlier screen
    * ([[graft.ops.Stats.hampelOutliers]]) on order totals per priority:
    * the robust count of extreme orders beside q_grubbs' single-suspect
    * verdict and q_outliers' IQR flags — a fence the outliers
    * themselves cannot drag. Exact order-statistic median and MAD,
    * integer 3.5-MAD fence.
    */
  private def qHampel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.hampelOutliers(t(s, dir, "orders"),
        Seq("o_orderpriority"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"))

  /** Upper-tail dependence ([[graft.ops.Stats.tailDependence]]) between
    * daily purchase and click revenue at the 90th percentile: do the
    * two streams SPIKE together — the co-crash/co-surge number q_corr's
    * bulk-dominated Pearson cannot see. Exact order-statistic
    * thresholds, exact exceedance counts.
    */
  private def qTailDep(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))).as("pc"),
        sum(when(col("event_type") === "click",
          round(col("value") * 100).cast("long"))).as("cc"))
      .filter(col("pc").isNotNull && col("cc").isNotNull)
    graft.ops.Stats.tailDependence(daily,
      col("pc") / lit(100.0), col("cc") / lit(100.0), qNum = 9, qDen = 10)
  }

  /** Quantile treatment effects
    * ([[graft.ops.Stats.quantileTreatmentEffect]]): even-vs-odd user
    * value differences at the quartiles and the 90th percentile — the
    * distributional A/B view where q_strat_ate's single mean can hide
    * a median-to-tail transfer. Exact per-arm order statistics.
    */
  private def qQte(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.quantileTreatmentEffect(
        t(s, dir, "events").filter(col("user_id").isNotNull),
        pmod(col("user_id"), lit(2)) === 0, col("value"),
        Seq((1, 4), (1, 2), (3, 4), (9, 10)))
      .orderBy(col("p_num"), col("p_den"))

  /** Oaxaca-Blinder decomposition ([[graft.ops.Stats.oaxacaBlinder]]):
    * how much of the even-vs-odd user value gap is explained by WHEN
    * they are active (hour of day as the covariate) vs different
    * returns to the same hours — the endowment/coefficient split
    * behind every "is the gap composition?" question. Closed-form
    * two-group OLS, one moment pass, exact identity.
    */
  private def qOaxaca(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.oaxacaBlinder(t(s, dir, "events"),
      pmod(col("user_id"), lit(2)) === 0, col("value"),
      hour(col("ts")).cast("double"))

  /** Empirical-Bayes shrinkage ([[graft.ops.Survey.ebShrink]]) of
    * per-user-bucket mean event values toward the grand mean: the
    * small-area-estimation move — a 5-event bucket borrows strength
    * from the population, a 5k-event bucket keeps its own mean.
    * Method-of-moments variance components from one micro-quantized
    * moment pass; all-BIGINT micro output (no float surface).
    */
  private def qShrinkage(s: SparkSession, dir: String): DataFrame =
    graft.ops.Survey.ebShrink(
      t(s, dir, "events").filter(col("value").isNotNull)
        .withColumn("bucket", col("user_id") % 97),
      Seq("bucket"), col("value"))

  /** Hodges-Lehmann pseudo-median ([[graft.ops.Stats.hodgesLehmann]])
    * of l_quantity per return flag: the median of all n(n+1)/2 Walsh
    * averages — the robust location estimate dual to the Wilcoxon
    * test, exact over the 50-value quantity domain (Walsh grid is
    * distinct²-bounded, never rows²). All-integer output
    * (hl_quarter_micros = 4× the pseudo-median in micros).
    */
  private def qHodgesLehmann(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.hodgesLehmann(t(s, dir, "lineitem"),
      Seq("l_returnflag"), col("l_quantity").cast("double"))

  /** Brunner-Munzel test ([[graft.ops.Stats.brunnerMunzel]]): even- vs
    * odd-user event values per type, studentized with EACH sample's
    * own rank variance — the Behrens-Fisher-honest rank test beside
    * q_mannwhitney's equal-variance U. Distinct-value spine, exact
    * double-midranks, milli-quantized deviation terms.
    */
  private def qBrunnerMunzel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.brunnerMunzel(
      t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("user_id").isNotNull),
      Seq("event_type"),
      col("user_id") % 2 === 0, col("user_id") % 2 === 1, col("value"))

  /** Two-sample Kuiper statistic ([[graft.ops.Drift.kuiperGrouped]]):
    * even- vs odd-user event values per type — the rotation-honest
    * tail-weighted sibling of q_ks_score's single-gap D, with both
    * directed gaps emitted as exact cleared integers.
    */
  private def qKuiper(s: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.kuiperGrouped(
      t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("user_id").isNotNull),
      Seq("event_type"),
      col("user_id") % 2 === 0, col("user_id") % 2 === 1, col("value"))
      .orderBy(col("event_type"))

  /** Rousseeuw-Croux Qn robust scale ([[graft.ops.Stats.qnScale]]) of
    * l_quantity per return flag: the 50%-breakdown, 82%-efficiency
    * robust sigma (raw k-th pairwise difference — the 2.2219 Gaussian
    * factor is the caller's), exact over the 50-value domain.
    * All-BIGINT output.
    */
  private def qQn(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.qnScale(t(s, dir, "lineitem"),
      Seq("l_returnflag"), col("l_quantity").cast("double"))

  /** Two-sample Hotelling T² ([[graft.ops.Stats.hotellingT2]]) on the
    * (quantity, discount) mean vector between even- and odd-key order
    * halves: the multivariate A/B readout two marginal t-tests get
    * wrong under correlation. One conditional moment pass, closed-form
    * 2×2 inverse.
    */
  private def qHotelling(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.hotellingT2(
      t(s, dir, "lineitem")
        .filter(col("l_quantity").isNotNull && col("l_discount").isNotNull),
      col("l_orderkey") % 2 === 0, col("l_orderkey") % 2 === 1,
      col("l_quantity").cast("double"), col("l_discount"))

  /** Distance correlation ([[graft.ops.Stats.distanceCorrelation]])
    * between quantity and extended price: the nonlinear-dependence
    * readout beside q_corr's Pearson r — dCor fires on any functional
    * relationship, linear or not. 32-bucket grid estimator; everything
    * after one (bx, by) aggregation is ≤ B⁴ driver arithmetic with
    * exact integer centered factors.
    */
  private def qDcor(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.distanceCorrelation(t(s, dir, "lineitem"),
      col("l_quantity").cast("double"), col("l_extendedprice").cast("double"))

  /** Always-valid A/B monitoring ([[graft.ops.Stats.msprt]]): the
    * daily mSPRT p-value trajectory for the parity-arm value metric at
    * mixture scale τ² = 25 — the "peek every day without lying to
    * yourself" companion to q_welch's fixed-horizon test and q_sprt's
    * simple-alternative walk. Cumulative exact moments per day,
    * one fixed IEEE tree per row, running-min p.
    */
  private def qMsprt(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.msprt(
      t(s, dir, "events").filter(col("user_id").isNotNull),
      col("user_id") % 2 === 0, col("user_id") % 2 === 1,
      col("ts"), col("value"), tauSq = 25.0)

  /** Group-sequential O'Brien-Fleming monitor ([[graft.ops.Stats
    * .gstMonitor]]): five planned interim looks over the experiment
    * window for the same parity-arm metric q_msprt streams daily —
    * the committee-schedule counterpart to always-valid peeking:
    * per look, the cumulative z against C_B(5)·√(5/k). Exact
    * integer day→look map, ≤ 5-row cumulative windows.
    */
  private def qGst(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.gstMonitor(
      t(s, dir, "events").filter(col("user_id").isNotNull),
      col("user_id") % 2 === 0, col("user_id") % 2 === 1,
      col("ts"), col("value"), plannedLooks = 5)

  /** This family's slice of [[graft.SparkEntry.queries]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shrinkage" -> (qShrinkage _),
    "q_msprt" -> (qMsprt _),
    "q_gst" -> (qGst _),
    "q_dcor" -> (qDcor _),
    "q_qn" -> (qQn _),
    "q_hotelling" -> (qHotelling _),
    "q_kuiper" -> (qKuiper _),
    "q_hodges_lehmann" -> (qHodgesLehmann _),
    "q_brunner_munzel" -> (qBrunnerMunzel _),
    "q_qte" -> (qQte _),
    "q_oaxaca" -> (qOaxaca _),
    "q_wilcoxon" -> (qWilcoxon _),
    "q_grubbs" -> (qGrubbs _),
    "q_rate_ratio" -> (qRateRatio _),
    "q_welch_anova" -> (qWelchAnova _),
    "q_negbin" -> (qNegbin _),
    "q_strat_ate" -> (qStratAte _),
    "q_hampel" -> (qHampel _),
    "q_tail_dep" -> (qTailDep _),
    "q_cmh" -> (qCmh _),
    "q_jackknife" -> (qJackknife _),
    "q_anova" -> (qAnova _),
    "q_fdr" -> (qFdr _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_weighted_median" -> (qWeightedMedian _),
    "q_trimmed_mean" -> (qTrimmedMean _),
    "q_chi2_cells" -> (qChi2Cells _),
    "q_bootstrap" -> (qBootstrap _),
    "q_two_prop" -> (qTwoProp _),
    "q_jsd" -> (qJsd _),
    "q_tvd" -> (qTvd _),
    "q_quantiles" -> (qQuantiles _),
    "q_concentration" -> (qConcentration _),
    "q_inequality" -> (qInequality _),
    "q_lorenz" -> (qLorenz _),
    "q_mannwhitney" -> (qMannwhitney _),
    "q_cliffs" -> (qCliffs _),
    "q_ridge" -> (qRidge _),
    "q_vif" -> (qVif _),
    "q_spearman" -> (qSpearman _),
    "q_chi2" -> (qChi2 _),
    "q_welch" -> (qWelch _),
    "q_effect_size" -> (qEffectSize _),
    "q_levene" -> (qLevene _),
    "q_kruskal" -> (qKruskal _),
    "q_gamma" -> (qGamma _),
    "q_pchart" -> (qPchart _),
    "q_jarque_bera" -> (qJarqueBera _),
    "q_dagostino" -> (qDagostino _),
    "q_ad2" -> (qAd2 _),
    "q_bartlett" -> (qBartlett _),
    "q_cochran" -> (qCochran _),
    "q_cronbach" -> (qCronbach _),
    "q_friedman" -> (qFriedman _),
    "q_ca_trend" -> (qCaTrend _),
    "q_breslow_day" -> (qBreslowDay _),
    "q_dunn" -> (qDunn _),
    "q_mood" -> (qMood _),
    "q_huber" -> (qHuber _),
    "q_uncertainty" -> (qUncertainty _),
    "q_k_anon" -> (qKAnon _),
    "q_tcloseness" -> (qTCloseness _),
    "q_kendall_w" -> (qKendallW _),
    "q_yuen" -> (qYuen _),
    "q_by" -> (qBy _),
    "q_holm" -> (qHolm _),
    "q_cvm" -> (qCvm _),
    "q_wasserstein" -> (qWasserstein _),
    "q_energy" -> (qEnergy _),
    "q_gtest" -> (qGtest _),
    "q_tost" -> (qTost _),
    "q_page_trend" -> (qPageTrend _),
    "q_pi0" -> (qPi0 _),
    "q_jonckheere" -> (qJonckheere _),
    "q_bowker" -> (qBowker _),
    "q_mahalanobis" -> (qMahalanobis _),
    "q_icc" -> (qIcc _),
    "q_rank_biserial" -> (qRankBiserial _),
    "q_partial_corr" -> (qPartialCorr _),
    "q_odds_ratio" -> (qOddsRatio _),
    "q_cohen_h" -> (qCohenH _),
    "q_weighted_kappa" -> (qWeightedKappa _),
    "q_paired_t" -> (qPairedT _),
    "q_durbin_watson" -> (qDurbinWatson _),
    "q_did" -> (qDid _),
    "q_rdd" -> (qRdd _),
    "q_iv" -> (qIv _),
    "q_wls" -> (qWls _),
    "q_logit" -> (qLogit _),
    "q_ipw" -> (qIpw _),
    "q_positivity" -> (qPositivity _),
    "q_balance" -> (qBalance _),
    "q_aipw" -> (qAipw _),
    "q_psm" -> (qPsm _),
    "q_twfe" -> (qTwfe _),
    "q_ransac" -> (qRansac _),
    "q_cuped" -> (qCuped _),
    "q_tukey" -> (qTukey _),
    "q_srm" -> (qSrm _),
    "q_mde" -> (qMde _),
    "q_games_howell" -> (qGamesHowell _),
    "q_benford" -> (qBenford _),
    "q_ols_trend" -> (qOlsTrend _),
    "q_embed_drift" -> (qEmbedDrift _),
    "q_vocab_drift" -> (qVocabDrift _),
    "q_profile" -> (qProfile _),
    "q_histogram" -> (qHistogram _),
    "q_impute" -> (qImpute _),
    "q_incremental" -> (qIncremental _),
    "q_cms" -> (qCms _),
    "q_quantile_bound" -> (qQuantileBound _),
    "q_outliers" -> (qOutliers _),
    "q_corr" -> (qCorr _),
    "q_hll_merge" -> (qHllMerge _),
    "q_binning" -> (qBinning _),
    "q_expectations" -> (qExpectations _),
    "q_ref_integrity" -> (qRefIntegrity _),
    "q_drift" -> (qDrift _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_hh_containment" -> (qHhContainment _),
    "q_anomaly" -> (qAnomaly _),
    "q_scale" -> (qScale _),
    "q_joinsize" -> (qJoinsize _),
    "q_ab_ci" -> (qAbCi _),
    "q_joinsize_bound" -> (qJoinsizeBound _),
    "q_winsorize" -> (qWinsorize _),
    "q_table_checksum" -> (qTableChecksum _),
    "q_compact_audit" -> (qCompactAudit _),
    "q_ks" -> (qKs _),
  )

  /** This family's slice of [[graft.SparkEntry.oracleSql]]. */
  /** DuckDB replay of [[graft.ops.Stats.friedman]] on the q_friedman
    * frame — shared by q_friedman and q_kendall_w (which divides its
    * tie-corrected chi2 by m(k-1)).
    */
  private val friedmanOracleSql: String =
    """WITH pre AS (
        |  SELECT user_id % 16 AS b, event_type AS t,
        |    SUM(CAST(round(value * 100.0) AS BIGINT)) * 1000000 AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |k1 AS (SELECT COUNT(DISTINCT t) AS k FROM pre),
        |cb AS (
        |  SELECT b, t, x, k, COUNT(*) OVER (PARTITION BY b) AS nb
        |  FROM pre CROSS JOIN k1),
        |cpl AS (SELECT * FROM cb WHERE nb = k),
        |rk AS (
        |  SELECT t, k,
        |    2 * COUNT(*) OVER (PARTITION BY b ORDER BY x
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      + COUNT(*) OVER (PARTITION BY b, x) + 1 AS r2,
        |    COUNT(*) OVER (PARTITION BY b, x) AS m,
        |    ROW_NUMBER() OVER (PARTITION BY b, x ORDER BY t) AS rn
        |  FROM cpl),
        |pt AS (
        |  SELECT t, k, COUNT(*) AS n, SUM(r2) AS r2j,
        |    SUM(CASE WHEN rn = 1 THEN CAST(m AS HUGEINT) * m * m - m ELSE 0 END) AS t3
        |  FROM rk GROUP BY 1, 2),
        |ag AS (
        |  SELECT k, MAX(n) AS nb,
        |    SUM(CAST(round(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE) / 4.0
        |      * 1000000.0) AS HUGEINT)) AS s,
        |    SUM(t3) AS ties
        |  FROM pt GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS k, CAST(nb AS BIGINT) AS n_blocks,
        |  CAST(ties AS BIGINT) AS tie_cubes,
        |  CASE WHEN k >= 2 AND nb >= 1 THEN
        |    round(12.0 / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE)
        |          * (CAST(k AS DOUBLE) + 1.0))
        |        * (CAST(s AS DOUBLE) / 1000000.0)
        |      - 3.0 * CAST(nb AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0), 6)
        |  END AS chi2_f,
        |  CASE WHEN k >= 2 AND nb >= 1 AND 1.0 - CAST(ties AS DOUBLE)
        |      / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE)
        |        * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)) > 0.0 THEN
        |    round((12.0 / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE)
        |          * (CAST(k AS DOUBLE) + 1.0))
        |        * (CAST(s AS DOUBLE) / 1000000.0)
        |      - 3.0 * CAST(nb AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))
        |      / (1.0 - CAST(ties AS DOUBLE)
        |        / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE)
        |          * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0))), 6)
        |  END AS chi2_tie
        |FROM ag""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_msprt" ->
      """WITH b AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |dy AS (
        |  SELECT d,
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) ELSE 0 END) AS sa,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) ELSE 0 END) AS sb,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qa,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qb
        |  FROM b GROUP BY 1),
        |cm AS (
        |  SELECT d,
        |    SUM(na) OVER w AS cna, SUM(nb) OVER w AS cnb,
        |    SUM(sa) OVER w AS csa, SUM(sb) OVER w AS csb,
        |    SUM(qa) OVER w AS cqa, SUM(qb) OVER w AS cqb
        |  FROM dy WINDOW w AS (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s1 AS (
        |  SELECT d, cna, cnb,
        |    CAST(csa AS DOUBLE) / CAST(cna AS DOUBLE)
        |      - CAST(csb AS DOUBLE) / CAST(cnb AS DOUBLE) AS delta,
        |    ((CAST(cqa AS DOUBLE)
        |        - CAST(csa AS DOUBLE) * CAST(csa AS DOUBLE) / CAST(cna AS DOUBLE))
        |      + (CAST(cqb AS DOUBLE)
        |        - CAST(csb AS DOUBLE) * CAST(csb AS DOUBLE) / CAST(cnb AS DOUBLE)))
        |      / (CAST(cna AS DOUBLE) + CAST(cnb AS DOUBLE) - 2.0) AS sig2
        |  FROM cm),
        |s2 AS (
        |  SELECT d, cna, cnb, delta,
        |    sig2 * (1.0 / CAST(cna AS DOUBLE) + 1.0 / CAST(cnb AS DOUBLE)) AS v
        |  FROM s1),
        |s3 AS (
        |  SELECT d, cna, cnb, delta, v,
        |    sqrt(v / (v + 25.0 * 1000000000000.0))
        |      * exp(delta * delta * (25.0 * 1000000000000.0)
        |        / (2.0 * v * (v + 25.0 * 1000000000000.0))) AS lam
        |  FROM s2),
        |s4 AS (
        |  SELECT d, cna, cnb,
        |    CASE WHEN cna > 0 AND cnb > 0 THEN
        |      CAST(round(delta) AS BIGINT) END AS delta_micros,
        |    CASE WHEN cna >= 2 AND cnb >= 2 AND v > 0.0 THEN lam END AS lam,
        |    CASE WHEN cna >= 2 AND cnb >= 2 AND v > 0.0 THEN
        |      LEAST(1.0, 1.0 / lam) ELSE 1.0 END AS p
        |  FROM s3)
        |SELECT d AS day, CAST(cna AS BIGINT) AS n_a, CAST(cnb AS BIGINT) AS n_b,
        |  delta_micros, round(lam, 6) AS lambda,
        |  round(MIN(p) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS p_always
        |FROM s4 ORDER BY day""".stripMargin,
    "q_gst" ->
      """WITH b AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |dy AS (
        |  SELECT d,
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) ELSE 0 END) AS sa,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) ELSE 0 END) AS sb,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qa,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qb
        |  FROM b GROUP BY 1),
        |sp AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM dy),
        |ag AS (
        |  SELECT ((d - d0) * 5) // (d1 - d0 + 1) + 1 AS k,
        |    SUM(na) AS na, SUM(nb) AS nb, SUM(sa) AS sa, SUM(sb) AS sb,
        |    SUM(qa) AS qa, SUM(qb) AS qb
        |  FROM dy, sp GROUP BY 1),
        |cm AS (
        |  SELECT k,
        |    SUM(na) OVER w AS cna, SUM(nb) OVER w AS cnb,
        |    SUM(sa) OVER w AS csa, SUM(sb) OVER w AS csb,
        |    SUM(qa) OVER w AS cqa, SUM(qb) OVER w AS cqb
        |  FROM ag WINDOW w AS (ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s1 AS (
        |  SELECT k, cna, cnb,
        |    CAST(csa AS DOUBLE) / CAST(cna AS DOUBLE)
        |      - CAST(csb AS DOUBLE) / CAST(cnb AS DOUBLE) AS delta,
        |    ((CAST(cqa AS DOUBLE)
        |        - CAST(csa AS DOUBLE) * CAST(csa AS DOUBLE) / CAST(cna AS DOUBLE))
        |      + (CAST(cqb AS DOUBLE)
        |        - CAST(csb AS DOUBLE) * CAST(csb AS DOUBLE) / CAST(cnb AS DOUBLE)))
        |      / (CAST(cna AS DOUBLE) + CAST(cnb AS DOUBLE) - 2.0) AS sig2
        |  FROM cm),
        |s2 AS (
        |  SELECT k, cna, cnb, delta,
        |    sig2 * (1.0 / CAST(cna AS DOUBLE) + 1.0 / CAST(cnb AS DOUBLE)) AS v
        |  FROM s1),
        |s3 AS (
        |  SELECT k, cna, cnb, delta, v,
        |    delta / sqrt(v) AS z,
        |    2.04 * sqrt(5.0 / CAST(k AS DOUBLE)) AS bound
        |  FROM s2)
        |SELECT CAST(k AS BIGINT) AS look,
        |  CAST(cna AS BIGINT) AS n_a, CAST(cnb AS BIGINT) AS n_b,
        |  CASE WHEN cna > 0 AND cnb > 0 THEN
        |    CAST(round(delta) AS BIGINT) END AS delta_micros,
        |  CASE WHEN cna >= 2 AND cnb >= 2 AND v > 0.0 THEN round(z, 6) END AS z,
        |  round(bound, 6) AS z_bound,
        |  CASE WHEN cna >= 2 AND cnb >= 2 AND v > 0.0 AND abs(z) > bound
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS crossed
        |FROM s3 ORDER BY look""".stripMargin,
    "q_dcor" ->
      """WITH v AS (
        |  SELECT CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 1000000.0) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |ex AS (SELECT MIN(x) AS xmn, MAX(x) AS xmx,
        |              MIN(y) AS ymn, MAX(y) AS ymx FROM v),
        |bb AS (
        |  SELECT
        |    CASE WHEN xmx = xmn THEN 0
        |      ELSE (CAST(x - xmn AS HUGEINT) * 32) // (xmx - xmn + 1) END AS bx,
        |    CASE WHEN ymx = ymn THEN 0
        |      ELSE (CAST(y - ymn AS HUGEINT) * 32) // (ymx - ymn + 1) END AS by2
        |  FROM v, ex),
        |cells AS (SELECT bx, by2, COUNT(*) AS w FROM bb GROUP BY 1, 2),
        |nn AS (SELECT SUM(w) AS n FROM cells),
        |xc AS (SELECT bx, SUM(w) AS c FROM cells GROUP BY 1),
        |yc AS (SELECT by2, SUM(w) AS c FROM cells GROUP BY 1),
        |sxv AS (
        |  SELECT a.bx, SUM(CAST(b.c AS HUGEINT) * ABS(a.bx - b.bx)) AS s
        |  FROM xc a, xc b GROUP BY 1),
        |syv AS (
        |  SELECT a.by2, SUM(CAST(b.c AS HUGEINT) * ABS(a.by2 - b.by2)) AS s
        |  FROM yc a, yc b GROUP BY 1),
        |txv AS (SELECT SUM(CAST(xc.c AS HUGEINT) * sxv.s) AS t
        |        FROM xc JOIN sxv USING (bx)),
        |tyv AS (SELECT SUM(CAST(yc.c AS HUGEINT) * syv.s) AS t
        |        FROM yc JOIN syv USING (by2)),
        |n6t AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS n6
        |  FROM nn),
        |pr AS (
        |  SELECT
        |    CAST(n6t.n AS HUGEINT) * n6t.n * ABS(a.bx - b.bx)
        |      - CAST(n6t.n AS HUGEINT) * sxa.s
        |      - CAST(n6t.n AS HUGEINT) * sxb.s + txv.t AS axh,
        |    CAST(n6t.n AS HUGEINT) * n6t.n * ABS(a.by2 - b.by2)
        |      - CAST(n6t.n AS HUGEINT) * sya.s
        |      - CAST(n6t.n AS HUGEINT) * syb.s + tyv.t AS ayh,
        |    a.w AS w1, b.w AS w2, n6t.n6 AS n6
        |  FROM cells a
        |  JOIN sxv sxa ON sxa.bx = a.bx
        |  JOIN syv sya ON sya.by2 = a.by2
        |  CROSS JOIN cells b
        |  JOIN sxv sxb ON sxb.bx = b.bx
        |  JOIN syv syb ON syb.by2 = b.by2
        |  CROSS JOIN n6t CROSS JOIN txv CROSS JOIN tyv),
        |tm AS (
        |  SELECT
        |    SUM(CAST(round(CAST(axh AS DOUBLE) * CAST(ayh AS DOUBLE)
        |      * (CAST(w1 AS DOUBLE) * CAST(w2 AS DOUBLE)) / n6
        |      * 1000000000.0) AS HUGEINT)) AS cn,
        |    SUM(CAST(round(CAST(axh AS DOUBLE) * CAST(axh AS DOUBLE)
        |      * (CAST(w1 AS DOUBLE) * CAST(w2 AS DOUBLE)) / n6
        |      * 1000000000.0) AS HUGEINT)) AS vx,
        |    SUM(CAST(round(CAST(ayh AS DOUBLE) * CAST(ayh AS DOUBLE)
        |      * (CAST(w1 AS DOUBLE) * CAST(w2 AS DOUBLE)) / n6
        |      * 1000000000.0) AS HUGEINT)) AS vy
        |  FROM pr)
        |SELECT CAST(nn.n AS BIGINT) AS n, CAST(32 AS BIGINT) AS buckets,
        |  round(CAST(cn AS DOUBLE) / 1000000000.0, 6) AS dcov2,
        |  round(CAST(vx AS DOUBLE) / 1000000000.0, 6) AS dvar_x,
        |  round(CAST(vy AS DOUBLE) / 1000000000.0, 6) AS dvar_y,
        |  CASE WHEN CAST(vx AS DOUBLE) / 1000000000.0 > 0.0
        |        AND CAST(vy AS DOUBLE) / 1000000000.0 > 0.0
        |        AND CAST(cn AS DOUBLE) / 1000000000.0 > 0.0 THEN
        |    round(sqrt((CAST(cn AS DOUBLE) / 1000000000.0)
        |      / sqrt((CAST(vx AS DOUBLE) / 1000000000.0)
        |           * (CAST(vy AS DOUBLE) / 1000000000.0))), 6)
        |  END AS dcor
        |FROM tm, nn""".stripMargin,
    "q_qn" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0) AS BIGINT) AS x
        |  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
        |bv AS (SELECT g, x, COUNT(*) AS c FROM v GROUP BY 1, 2),
        |grid AS (
        |  SELECT a.g, b.x - a.x AS s,
        |    CASE WHEN b.x > a.x THEN CAST(a.c AS HUGEINT) * b.c
        |         ELSE CAST(a.c AS HUGEINT) * (a.c - 1) // 2 END AS w
        |  FROM bv a JOIN bv b ON a.g = b.g AND b.x >= a.x),
        |sg AS (SELECT g, s, SUM(w) AS w FROM grid GROUP BY 1, 2 HAVING SUM(w) > 0),
        |nt AS (SELECT g, SUM(c) AS n FROM bv GROUP BY 1),
        |kk AS (
        |  SELECT g, n, (CAST(n // 2 + 1 AS HUGEINT) * (n // 2)) // 2 AS k
        |  FROM nt),
        |m AS (
        |  SELECT g, s,
        |    SUM(w) OVER (PARTITION BY g ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY g) AS np
        |  FROM sg)
        |SELECT kk.g AS l_returnflag, CAST(kk.n AS BIGINT) AS n,
        |  CAST(MAX(np) AS BIGINT) AS n_pairs, CAST(kk.k AS BIGINT) AS k,
        |  CAST(MIN(CASE WHEN cum >= kk.k THEN s END) AS BIGINT) AS qn_raw_micros
        |FROM m JOIN kk ON m.g = kk.g
        |GROUP BY kk.g, kk.n, kk.k ORDER BY l_returnflag""".stripMargin,
    "q_hotelling" ->
      """WITH v AS (
        |  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS g,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(l_discount * 1000000.0) AS BIGINT) AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |mm AS (
        |  SELECT
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxa,
        |    SUM(CASE WHEN g = 'a' THEN CAST(y AS HUGEINT) ELSE 0 END) AS sya,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxxa,
        |    SUM(CASE WHEN g = 'a' THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS syya,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS sxya,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) ELSE 0 END) AS sxb,
        |    SUM(CASE WHEN g = 'b' THEN CAST(y AS HUGEINT) ELSE 0 END) AS syb,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxxb,
        |    SUM(CASE WHEN g = 'b' THEN CAST(y AS HUGEINT) * y ELSE 0 END) AS syyb,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) * y ELSE 0 END) AS sxyb
        |  FROM v),
        |c1 AS (
        |  SELECT na, nb,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |    CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS nn,
        |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS dx,
        |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS dy,
        |    (CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
        |      + CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) AS wxx,
        |    (CAST(syya AS DOUBLE) - CAST(sya AS DOUBLE) * CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
        |      + CAST(syyb AS DOUBLE) - CAST(syb AS DOUBLE) * CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) AS wyy,
        |    (CAST(sxya AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
        |      + CAST(sxyb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) AS wxy
        |  FROM mm),
        |c2 AS (
        |  SELECT na, nb, dx, dy, wxx * wyy - wxy * wxy AS det,
        |    nad, nbd, nn, wxx, wyy, wxy
        |  FROM c1),
        |c3 AS (
        |  SELECT na, nb, dx, dy, det, nn,
        |    nad * nbd / nn
        |      * ((dx * (wyy * dx - wxy * dy) + dy * (wxx * dy - wxy * dx)) / det)
        |      AS t2
        |  FROM c2)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(round(dx) AS BIGINT) AS mean_dx_micros,
        |  CAST(round(dy) AS BIGINT) AS mean_dy_micros,
        |  CASE WHEN na >= 2 AND nb >= 2 AND det > 0.0 THEN round(t2, 6) END AS t2,
        |  CASE WHEN na >= 2 AND nb >= 2 AND det > 0.0 THEN
        |    round((nn - 3.0) / (2.0 * (nn - 2.0)) * t2, 6) END AS f
        |FROM c3""".stripMargin,
    "q_kuiper" ->
      """WITH v AS (
        |  SELECT event_type AS g, value AS x,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS ib
        |  FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL),
        |c AS (SELECT g, x, SUM(ia) AS ca, SUM(ib) AS cb FROM v GROUP BY 1, 2),
        |cc AS (
        |  SELECT g,
        |    SUM(ca) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY g) AS na,
        |    SUM(cb) OVER (PARTITION BY g) AS nb
        |  FROM c),
        |agg AS (
        |  SELECT g, na AS n_a, nb AS n_b,
        |    MAX(GREATEST(cca * nb - ccb * na, 0)) AS dplus_num,
        |    MAX(GREATEST(-(cca * nb - ccb * na), 0)) AS dminus_num
        |  FROM cc GROUP BY 1, 2, 3)
        |SELECT g AS event_type, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  CAST(dplus_num AS BIGINT) AS dplus_num,
        |  CAST(dminus_num AS BIGINT) AS dminus_num,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    round(CAST(dplus_num + dminus_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END AS v
        |FROM agg ORDER BY event_type""".stripMargin,
    "q_hodges_lehmann" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(CAST(l_quantity AS DOUBLE) * 1000000.0) AS BIGINT) AS x
        |  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
        |bv AS (SELECT g, x, COUNT(*) AS c FROM v GROUP BY 1, 2),
        |grid AS (
        |  SELECT a.g, a.x + b.x AS s,
        |    CASE WHEN b.x > a.x THEN CAST(a.c AS HUGEINT) * b.c
        |         ELSE CAST(a.c AS HUGEINT) * (a.c + 1) // 2 END AS w
        |  FROM bv a JOIN bv b ON a.g = b.g AND b.x >= a.x),
        |sg AS (SELECT g, s, SUM(w) AS w FROM grid GROUP BY 1, 2),
        |m AS (
        |  SELECT g, s,
        |    SUM(w) OVER (PARTITION BY g ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY g) AS p
        |  FROM sg),
        |agg AS (
        |  SELECT g, MIN(CASE WHEN cum >= (p + 1) // 2 THEN s END) AS sa,
        |    MIN(CASE WHEN cum >= p // 2 + 1 THEN s END) AS sb,
        |    MAX(p) AS np
        |  FROM m GROUP BY 1),
        |nt AS (SELECT g, SUM(c) AS n FROM bv GROUP BY 1)
        |SELECT nt.g AS l_returnflag, CAST(nt.n AS BIGINT) AS n,
        |  CAST(agg.np AS BIGINT) AS n_walsh,
        |  CAST(sa + sb AS BIGINT) AS hl_quarter_micros
        |FROM nt JOIN agg USING (g) ORDER BY l_returnflag""".stripMargin,
    "q_brunner_munzel" ->
      """WITH tg AS (
        |  SELECT event_type AS g,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS sg,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL),
        |bv AS (
        |  SELECT g, x, SUM(CASE WHEN sg = 'a' THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN sg = 'b' THEN 1 ELSE 0 END) AS b
        |  FROM tg GROUP BY 1, 2),
        |rk AS (
        |  SELECT g, x, a, b,
        |    2 * COALESCE(SUM(a + b) OVER w, 0) + a + b + 1 AS r2,
        |    2 * COALESCE(SUM(a) OVER w, 0) + a + 1 AS r2a,
        |    2 * COALESCE(SUM(b) OVER w, 0) + b + 1 AS r2b
        |  FROM bv WINDOW w AS (PARTITION BY g ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |st AS (
        |  SELECT g, SUM(a) AS n1, SUM(b) AS n2,
        |    SUM(CAST(a AS HUGEINT) * r2) AS sr1,
        |    SUM(CAST(b AS HUGEINT) * r2) AS sr2
        |  FROM rk GROUP BY 1),
        |tt AS (
        |  SELECT g, n1, n2, sr1, sr2,
        |    sr1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS t1,
        |    sr2 - CAST(n2 AS HUGEINT) * (n2 + 1) AS t2
        |  FROM st),
        |qq AS (
        |  SELECT rk.g, MAX(tt.n1) AS n1, MAX(tt.n2) AS n2,
        |    MAX(tt.sr1) AS sr1, MAX(tt.sr2) AS sr2,
        |    SUM(CAST(round(CAST(a AS DOUBLE)
        |      * (CAST(CAST(tt.n1 AS HUGEINT) * (r2 - r2a) - t1 AS DOUBLE)
        |         / (2.0 * CAST(tt.n1 AS DOUBLE)))
        |      * (CAST(CAST(tt.n1 AS HUGEINT) * (r2 - r2a) - t1 AS DOUBLE)
        |         / (2.0 * CAST(tt.n1 AS DOUBLE)))
        |      * 1000.0) AS HUGEINT)) AS q1,
        |    SUM(CAST(round(CAST(b AS DOUBLE)
        |      * (CAST(CAST(tt.n2 AS HUGEINT) * (r2 - r2b) - t2 AS DOUBLE)
        |         / (2.0 * CAST(tt.n2 AS DOUBLE)))
        |      * (CAST(CAST(tt.n2 AS HUGEINT) * (r2 - r2b) - t2 AS DOUBLE)
        |         / (2.0 * CAST(tt.n2 AS DOUBLE)))
        |      * 1000.0) AS HUGEINT)) AS q2
        |  FROM rk JOIN tt USING (g) GROUP BY 1),
        |fin AS (
        |  SELECT g, n1, n2,
        |    CAST(sr1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) AS rb1,
        |    CAST(sr2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)) AS rb2,
        |    CAST(q1 AS DOUBLE) / 1000.0 / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
        |    CAST(q2 AS DOUBLE) / 1000.0 / (CAST(n2 AS DOUBLE) - 1.0) AS v2
        |  FROM qq),
        |f2 AS (
        |  SELECT g, n1, n2, rb1, rb2, v1, v2,
        |    CAST(n1 AS DOUBLE) * v1 + CAST(n2 AS DOUBLE) * v2 AS pooled
        |  FROM fin)
        |SELECT g AS event_type, CAST(n1 AS BIGINT) AS n_a,
        |  CAST(n2 AS BIGINT) AS n_b,
        |  CASE WHEN n1 >= 2 AND n2 >= 2 THEN
        |    round((rb2 - (CAST(n2 AS DOUBLE) + 1.0) / 2.0)
        |      / CAST(n1 AS DOUBLE), 6) END AS p_hat,
        |  CASE WHEN n1 >= 2 AND n2 >= 2 AND pooled > 0.0 THEN
        |    round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (rb2 - rb1)
        |      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |      / sqrt(pooled), 6) END AS bm_t,
        |  CASE WHEN n1 >= 2 AND n2 >= 2 AND pooled > 0.0 THEN
        |    round(pooled * pooled
        |      / ((CAST(n1 AS DOUBLE) * v1) * (CAST(n1 AS DOUBLE) * v1)
        |          / (CAST(n1 AS DOUBLE) - 1.0)
        |        + (CAST(n2 AS DOUBLE) * v2) * (CAST(n2 AS DOUBLE) * v2)
        |          / (CAST(n2 AS DOUBLE) - 1.0)), 6) END AS df
        |FROM f2 ORDER BY event_type""".stripMargin,
    "q_shrinkage" ->
      """WITH v AS (
        |  SELECT user_id % 97 AS bucket,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT bucket, COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS s1,
        |    SUM(CAST(y AS HUGEINT) * y) AS s2
        |  FROM v GROUP BY 1),
        |tt AS (
        |  SELECT SUM(n) AS N, COUNT(*) AS k, SUM(s1) AS S1, SUM(s2) AS S2,
        |    SUM(CAST(round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) / 1000000.0) AS HUGEINT)) AS SA,
        |    SUM(CAST(n AS HUGEINT) * n) AS nn
        |  FROM g),
        |c1 AS (
        |  SELECT CAST(S1 AS DOUBLE) / CAST(N AS DOUBLE) AS mu,
        |    (CAST(S2 AS DOUBLE) - CAST(SA AS DOUBLE) * 1000000.0)
        |      / (CAST(N AS DOUBLE) - CAST(k AS DOUBLE)) AS sig2,
        |    (CAST(SA AS DOUBLE) * 1000000.0
        |      - CAST(S1 AS DOUBLE) * CAST(S1 AS DOUBLE) / CAST(N AS DOUBLE))
        |      / (CAST(k AS DOUBLE) - 1.0) AS msb,
        |    (CAST(N AS DOUBLE) - CAST(nn AS DOUBLE) / CAST(N AS DOUBLE))
        |      / (CAST(k AS DOUBLE) - 1.0) AS n0
        |  FROM tt),
        |c2 AS (SELECT mu, sig2, GREATEST(0.0, (msb - sig2) / n0) AS tau2 FROM c1)
        |SELECT g.bucket, CAST(g.n AS BIGINT) AS n,
        |  CAST(round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
        |    AS mean_micros,
        |  CAST(round(mu + (tau2 / (tau2 + sig2 / CAST(n AS DOUBLE)))
        |    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) - mu)) AS BIGINT)
        |    AS shrunk_mean_micros,
        |  CAST(round(tau2 / (tau2 + sig2 / CAST(n AS DOUBLE)) * 1000000.0)
        |    AS BIGINT) AS b_micros
        |FROM g, c2 ORDER BY bucket""".stripMargin,
    "q_qte" ->
      """WITH v AS (
        |  SELECT user_id % 2 = 0 AS t,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |bv AS (SELECT t, x, COUNT(*) AS nv FROM v GROUP BY 1, 2),
        |cum AS (
        |  SELECT t, x,
        |    SUM(nv) OVER (PARTITION BY t ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(nv) OVER (PARTITION BY t) AS nn
        |  FROM bv),
        |qs AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4), (9, 10))
        |  AS q(p_num, p_den)),
        |cr AS (
        |  SELECT t, p_num, p_den, MIN(x) AS thr, MAX(nn) AS n
        |  FROM cum CROSS JOIN qs
        |  WHERE cum * p_den >= p_num * nn GROUP BY 1, 2, 3)
        |SELECT a.p_num, a.p_den,
        |  CAST(a.n AS BIGINT) AS n_treat, CAST(b.n AS BIGINT) AS n_ctrl,
        |  round(CAST(a.thr AS DOUBLE) / 1000000.0, 6) AS q_treat,
        |  round(CAST(b.thr AS DOUBLE) / 1000000.0, 6) AS q_ctrl,
        |  round(CAST(a.thr - b.thr AS DOUBLE) / 1000000.0, 6) AS qte
        |FROM cr a JOIN cr b
        |  ON a.p_num = b.p_num AND a.p_den = b.p_den AND a.t AND NOT b.t
        |ORDER BY a.p_num, a.p_den""".stripMargin,
    "q_oaxaca" ->
      """WITH v AS (
        |  SELECT user_id % 2 = 0 AS t,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS y,
        |    CAST(round(CAST(hour(ts) AS DOUBLE) * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
        |a AS (
        |  SELECT
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS nt,
        |    SUM(CASE WHEN t THEN CAST(x AS HUGEINT) END) AS sxt,
        |    SUM(CASE WHEN t THEN CAST(y AS HUGEINT) END) AS syt,
        |    SUM(CASE WHEN t THEN CAST(x AS HUGEINT) * x END) AS sxxt,
        |    SUM(CASE WHEN t THEN CAST(x AS HUGEINT) * y END) AS sxyt,
        |    SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS nc,
        |    SUM(CASE WHEN NOT t THEN CAST(x AS HUGEINT) END) AS sxc,
        |    SUM(CASE WHEN NOT t THEN CAST(y AS HUGEINT) END) AS syc,
        |    SUM(CASE WHEN NOT t THEN CAST(x AS HUGEINT) * x END) AS sxxc,
        |    SUM(CASE WHEN NOT t THEN CAST(x AS HUGEINT) * y END) AS sxyc
        |  FROM v),
        |f AS (
        |  SELECT nt, nc,
        |    CAST(nt AS DOUBLE) * CAST(sxxt AS DOUBLE)
        |      - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) AS st,
        |    (CAST(nt AS DOUBLE) * CAST(sxyt AS DOUBLE)
        |      - CAST(sxt AS DOUBLE) * CAST(syt AS DOUBLE))
        |      / (CAST(nt AS DOUBLE) * CAST(sxxt AS DOUBLE)
        |        - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)) AS bt,
        |    CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000.0 AS xt,
        |    CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000.0 AS yt,
        |    CAST(nc AS DOUBLE) * CAST(sxxc AS DOUBLE)
        |      - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE) AS sc,
        |    (CAST(nc AS DOUBLE) * CAST(sxyc AS DOUBLE)
        |      - CAST(sxc AS DOUBLE) * CAST(syc AS DOUBLE))
        |      / (CAST(nc AS DOUBLE) * CAST(sxxc AS DOUBLE)
        |        - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE)) AS bc,
        |    CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE) / 1000000.0 AS xc,
        |    CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE) / 1000000.0 AS yc
        |  FROM a)
        |SELECT CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
        |  CASE WHEN nt >= 1 AND nc >= 1 THEN round(yt - yc, 6) END AS gap,
        |  CASE WHEN nt >= 2 AND nc >= 2 AND st > 0.0 AND sc > 0.0 THEN
        |    round(bc * (xt - xc), 6) END AS endowment,
        |  CASE WHEN nt >= 2 AND nc >= 2 AND st > 0.0 AND sc > 0.0 THEN
        |    round(((yt - bt * xt) - (yc - bc * xc)) + xc * (bt - bc), 6)
        |  END AS coefficient,
        |  CASE WHEN nt >= 2 AND nc >= 2 AND st > 0.0 AND sc > 0.0 THEN
        |    round((bt - bc) * (xt - xc), 6) END AS interaction
        |FROM f""".stripMargin,
    "q_hampel" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS x
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |bv AS (SELECT g, x, COUNT(*) AS nv FROM v GROUP BY 1, 2),
        |md AS (
        |  SELECT g, MIN(x) AS med FROM (
        |    SELECT g, x,
        |      SUM(nv) OVER (PARTITION BY g ORDER BY x
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(nv) OVER (PARTITION BY g) AS nn
        |    FROM bv) q
        |  WHERE cum * 2 >= nn GROUP BY 1),
        |dv AS (SELECT v.g, abs(x - med) AS d, med FROM v JOIN md ON v.g = md.g),
        |bd AS (SELECT g, d, COUNT(*) AS nd FROM dv GROUP BY 1, 2),
        |md2 AS (
        |  SELECT g, MIN(d) AS mad FROM (
        |    SELECT g, d,
        |      SUM(nd) OVER (PARTITION BY g ORDER BY d
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(nd) OVER (PARTITION BY g) AS nn
        |    FROM bd) q
        |  WHERE cum * 2 >= nn GROUP BY 1)
        |SELECT dv.g AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(MAX(med) AS DOUBLE) / 1000000.0, 6) AS median,
        |  round(CAST(MAX(mad) AS DOUBLE) / 1000000.0, 6) AS mad,
        |  CAST(SUM(CASE WHEN d * 2 > mad * 7 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged
        |FROM dv JOIN md2 ON dv.g = md2.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tail_dep" ->
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS pc,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS cc
        |  FROM events GROUP BY 1),
        |v AS (
        |  SELECT
        |    CAST(round(CAST(pc AS DOUBLE) / 100.0 * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(CAST(cc AS DOUBLE) / 100.0 * 1000000.0) AS BIGINT) AS y
        |  FROM d WHERE pc IS NOT NULL AND cc IS NOT NULL),
        |bx AS (SELECT x, COUNT(*) AS nv FROM v GROUP BY 1),
        |tx AS (
        |  SELECT MIN(x) AS thx FROM (
        |    SELECT x, SUM(nv) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(nv) OVER () AS nn
        |    FROM bx) q WHERE cum * 10 >= 9 * nn),
        |by2 AS (SELECT y, COUNT(*) AS nv FROM v GROUP BY 1),
        |ty AS (
        |  SELECT MIN(y) AS thy FROM (
        |    SELECT y, SUM(nv) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(nv) OVER () AS nn
        |    FROM by2) q WHERE cum * 10 >= 9 * nn),
        |a AS (
        |  SELECT COUNT(*) AS n, MAX(thx) AS thx, MAX(thy) AS thy,
        |    SUM(CASE WHEN x > thx THEN 1 ELSE 0 END) AS nx,
        |    SUM(CASE WHEN y > thy THEN 1 ELSE 0 END) AS ny,
        |    SUM(CASE WHEN x > thx AND y > thy THEN 1 ELSE 0 END) AS nj
        |  FROM v CROSS JOIN tx CROSS JOIN ty)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CAST(thx AS DOUBLE) / 1000000.0, 6) AS thr_x,
        |  round(CAST(thy AS DOUBLE) / 1000000.0, 6) AS thr_y,
        |  CAST(nx AS BIGINT) AS n_x, CAST(ny AS BIGINT) AS n_y,
        |  CAST(nj AS BIGINT) AS n_joint,
        |  CASE WHEN nx > 0 THEN
        |    round(CAST(nj AS DOUBLE) / CAST(nx AS DOUBLE), 6) END AS lambda_xy,
        |  CASE WHEN ny > 0 THEN
        |    round(CAST(nj AS DOUBLE) / CAST(ny AS DOUBLE), 6) END AS lambda_yx,
        |  CASE WHEN nx > 0 AND ny > 0 THEN
        |    round(CAST(nj AS DOUBLE) * CAST(n AS DOUBLE)
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)), 6) END AS lift
        |FROM a""".stripMargin,
    "q_welch_anova" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cg AS (
        |  SELECT g, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM v GROUP BY 1),
        |m AS (
        |  SELECT g, n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mn,
        |    CASE WHEN n >= 2 THEN
        |      CAST(CAST(n AS HUGEINT) * sxx - s * s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
        |      / 1000000000000.0 END AS v2
        |  FROM cg),
        |w AS (
        |  SELECT g, n, mn, v2,
        |    CASE WHEN v2 > 0.0 THEN CAST(n AS DOUBLE) / v2 END AS w FROM m),
        |t AS (
        |  SELECT COUNT(*) AS k, SUM(n) AS nt,
        |    SUM(CASE WHEN w IS NOT NULL THEN
        |      CAST(round(w * 1000000000.0) AS BIGINT) END) AS w9,
        |    SUM(CASE WHEN w IS NOT NULL THEN
        |      CAST(round(w * mn * 1000000.0) AS BIGINT) END) AS wm6,
        |    SUM(CASE WHEN w IS NOT NULL THEN 0 ELSE 1 END) AS bad
        |  FROM w),
        |jt AS (
        |  SELECT w.g, w.n, w.mn, w.w, k, nt, w9, wm6, bad,
        |    (CAST(wm6 AS DOUBLE) / 1000000.0)
        |      / (CAST(w9 AS DOUBLE) / 1000000000.0) AS xw
        |  FROM w CROSS JOIN t),
        |terms AS (
        |  SELECT k, nt, bad,
        |    CASE WHEN w IS NOT NULL THEN CAST(round(w * (mn - xw) * (mn - xw)
        |      * 1000000000.0) AS BIGINT) ELSE 0 END AS a9,
        |    CASE WHEN w IS NOT NULL THEN CAST(round(
        |      (1.0 - w / (CAST(w9 AS DOUBLE) / 1000000000.0))
        |      * (1.0 - w / (CAST(w9 AS DOUBLE) / 1000000000.0))
        |      / (CAST(n AS DOUBLE) - 1.0) * 1000000000.0) AS BIGINT)
        |      ELSE 0 END AS l9
        |  FROM jt),
        |f AS (
        |  SELECT k, nt, bad, SUM(a9) AS a9, SUM(l9) AS l9
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT CAST(k AS BIGINT) AS k, CAST(nt AS BIGINT) AS n,
        |  CASE WHEN k >= 2 AND bad = 0 AND CAST(l9 AS DOUBLE) / 1000000000.0 > 0.0
        |    THEN round((CAST(a9 AS DOUBLE) / 1000000000.0
        |        / (CAST(k AS DOUBLE) - 1.0))
        |      / (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
        |        / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
        |        * (CAST(l9 AS DOUBLE) / 1000000000.0)), 6) END AS f,
        |  CASE WHEN k >= 2 AND bad = 0 AND CAST(l9 AS DOUBLE) / 1000000000.0 > 0.0
        |    THEN round((CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
        |      / (3.0 * (CAST(l9 AS DOUBLE) / 1000000000.0)), 6) END AS df2
        |FROM f""".stripMargin,
    "q_negbin" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(CAST(c AS HUGEINT)) AS s,
        |    SUM(CAST(c AS HUGEINT) * c) AS ss
        |  FROM d GROUP BY 1),
        |m AS (
        |  SELECT event_type, n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mn,
        |    CAST(CAST(n AS HUGEINT) * ss - s * s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vv
        |  FROM a)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 2 THEN round(mn, 6) END AS mean,
        |  CASE WHEN n >= 2 THEN round(vv, 6) END AS variance,
        |  CASE WHEN n >= 2 AND vv > mn THEN
        |    round(mn * mn / (vv - mn), 6) END AS r,
        |  CASE WHEN n >= 2 AND vv > mn THEN round(mn / vv, 6) END AS p
        |FROM m ORDER BY event_type""".stripMargin,
    "q_strat_ate" ->
      """WITH v AS (
        |  SELECT dayofweek(ts) AS st, user_id % 2 = 0 AS t,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL),
        |cg AS (
        |  SELECT st, t, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM v GROUP BY 1, 2),
        |wd AS (
        |  SELECT a.st, a.n AS ntr, a.s AS str, a.sxx AS sxxtr,
        |    b.n AS ncl, b.s AS scl, b.sxx AS sxxcl
        |  FROM cg a JOIN cg b ON a.st = b.st AND a.t AND NOT b.t
        |  WHERE a.n >= 2 AND b.n >= 2),
        |tt AS (
        |  SELECT SUM(ntr + ncl) AS ntot, SUM(ntr) AS ntrt,
        |    SUM(ncl) AS nctt, COUNT(*) AS k
        |  FROM wd),
        |terms AS (
        |  SELECT k, ntrt, nctt,
        |    CAST(round(CAST(ntr + ncl AS DOUBLE) / CAST(ntot AS DOUBLE)
        |      * (CAST(str AS DOUBLE) / CAST(ntr AS DOUBLE) / 1000000.0
        |        - CAST(scl AS DOUBLE) / CAST(ncl AS DOUBLE) / 1000000.0)
        |      * 1000000000.0) AS BIGINT) AS d9,
        |    CAST(round(CAST(ntr + ncl AS DOUBLE) / CAST(ntot AS DOUBLE)
        |      * (CAST(ntr + ncl AS DOUBLE) / CAST(ntot AS DOUBLE))
        |      * (CAST(CAST(ntr AS HUGEINT) * sxxtr - str * str AS DOUBLE)
        |          / (CAST(ntr AS DOUBLE) * (CAST(ntr AS DOUBLE) - 1.0))
        |          / 1000000000000.0 / CAST(ntr AS DOUBLE)
        |        + CAST(CAST(ncl AS HUGEINT) * sxxcl - scl * scl AS DOUBLE)
        |          / (CAST(ncl AS DOUBLE) * (CAST(ncl AS DOUBLE) - 1.0))
        |          / 1000000000000.0 / CAST(ncl AS DOUBLE))
        |      * 1000000000000000.0) AS BIGINT) AS v15
        |  FROM wd CROSS JOIN tt),
        |f AS (
        |  SELECT k, ntrt, nctt, SUM(d9) AS d9, SUM(v15) AS v15
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT CAST(k AS BIGINT) AS n_strata, CAST(ntrt AS BIGINT) AS n_treat,
        |  CAST(nctt AS BIGINT) AS n_ctrl,
        |  CASE WHEN k >= 1 THEN
        |    round(CAST(d9 AS DOUBLE) / 1000000000.0, 6) END AS ate,
        |  CASE WHEN k >= 1 AND sqrt(CAST(v15 AS DOUBLE) / 1000000000000000.0) > 0.0
        |    THEN round(sqrt(CAST(v15 AS DOUBLE) / 1000000000000000.0), 6)
        |  END AS se,
        |  CASE WHEN k >= 1 AND sqrt(CAST(v15 AS DOUBLE) / 1000000000000000.0) > 0.0
        |    THEN round(CAST(d9 AS DOUBLE) / 1000000000.0
        |      / sqrt(CAST(v15 AS DOUBLE) / 1000000000000000.0), 6) END AS z
        |FROM f""".stripMargin,
    "q_rate_ratio" ->
      """WITH a AS (
        |  SELECT
        |    SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS c1,
        |    COUNT(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) AS e1,
        |    SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS c2,
        |    COUNT(DISTINCT CASE WHEN user_id % 2 = 1 THEN user_id END) AS e2
        |  FROM events)
        |SELECT CAST(c1 AS BIGINT) AS c1, CAST(e1 AS BIGINT) AS e1,
        |  CAST(c2 AS BIGINT) AS c2, CAST(e2 AS BIGINT) AS e2,
        |  CASE WHEN c1 > 0 AND c2 > 0 AND e1 > 0 AND e2 > 0 THEN
        |    round((CAST(c1 AS DOUBLE) / CAST(e1 AS DOUBLE))
        |      / (CAST(c2 AS DOUBLE) / CAST(e2 AS DOUBLE)), 6) END AS rate_ratio,
        |  CASE WHEN c1 > 0 AND c2 > 0 AND e1 > 0 AND e2 > 0 THEN
        |    round((ln(CAST(CAST(c1 AS HUGEINT) * e2 AS DOUBLE))
        |        - ln(CAST(CAST(c2 AS HUGEINT) * e1 AS DOUBLE)))
        |      / sqrt(1.0 / CAST(c1 AS DOUBLE) + 1.0 / CAST(c2 AS DOUBLE)), 6)
        |  END AS z
        |FROM a""".stripMargin,
    "q_grubbs" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS gk,
        |    CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS x
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |m AS (
        |  SELECT gk, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM v GROUP BY 1),
        |j AS (
        |  SELECT v.gk, abs(CAST(n AS HUGEINT) * x - s) AS dev, x
        |  FROM v JOIN m ON v.gk = m.gk),
        |a AS (SELECT gk, MAX(dev) AS maxdev FROM j GROUP BY 1),
        |sus AS (
        |  SELECT j.gk, MAX(j.x) AS sx
        |  FROM j JOIN a ON j.gk = a.gk AND j.dev = a.maxdev GROUP BY 1),
        |f AS (
        |  SELECT m.gk, n, s, a.maxdev, sus.sx,
        |    CAST(CAST(n AS HUGEINT) * sxx - s * s AS DOUBLE) AS varn
        |  FROM m JOIN a ON m.gk = a.gk JOIN sus ON m.gk = sus.gk)
        |SELECT gk AS o_orderpriority, CAST(n AS BIGINT) AS n,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean,
        |  CASE WHEN n >= 3 AND varn > 0.0 THEN
        |    round(sqrt(varn / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |      / 1000000.0, 6) END AS sd,
        |  CASE WHEN n >= 3 AND varn > 0.0 THEN
        |    round(CAST(maxdev AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |      / (sqrt(varn / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
        |        / 1000000.0), 6) END AS g,
        |  round(CAST(sx AS DOUBLE) / 1000000.0, 6) AS suspect
        |FROM f ORDER BY o_orderpriority""".stripMargin,
    "q_wilcoxon" ->
      """WITH e AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS sp,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS sc,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
        |  GROUP BY 1),
        |p AS (
        |  SELECT user_id % 4 AS segment,
        |    CAST(round((CAST(sp AS DOUBLE) / 100.0 / CAST(np AS DOUBLE)
        |      - CAST(sc AS DOUBLE) / 100.0 / CAST(nc AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS d
        |  FROM e WHERE np > 0 AND nc > 0),
        |cells AS (
        |  SELECT segment, abs(d) AS a,
        |    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS npv, COUNT(*) AS nv
        |  FROM p WHERE d <> 0 GROUP BY 1, 2),
        |rk AS (
        |  SELECT segment, nv,
        |    CAST(npv AS HUGEINT) * (2 * COALESCE(SUM(nv) OVER (PARTITION BY segment
        |      ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + nv + 1) AS w2,
        |    CAST(nv AS HUGEINT) * nv * nv - nv AS t3
        |  FROM cells),
        |ag AS (
        |  SELECT segment, SUM(nv) AS n, SUM(w2) AS wp2, SUM(t3) AS ties
        |  FROM rk GROUP BY 1)
        |SELECT segment, CAST(n AS BIGINT) AS n,
        |  CAST(wp2 AS BIGINT) AS w_plus_twice, CAST(ties AS BIGINT) AS tie_cubes,
        |  CASE WHEN n >= 2
        |      AND CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |        * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |        - CAST(ties AS DOUBLE) / 48.0 > 0.0 THEN
        |    round((CAST(wp2 AS DOUBLE) / 2.0
        |        - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
        |      / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
        |        * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
        |        - CAST(ties AS DOUBLE) / 48.0), 6)
        |  END AS z
        |FROM ag ORDER BY segment""".stripMargin,
    "q_weighted_kappa" ->
      """WITH v AS (
        |  SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS a,
        |    LEAST(CAST(floor(l_extendedprice / 20000) AS BIGINT), 5) AS b
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cells AS (SELECT a, b, COUNT(*) AS n FROM v GROUP BY 1, 2),
        |tot AS (
        |  SELECT SUM(n) AS nn,
        |    SUM(CAST(abs(a - b) AS HUGEINT) * n) AS dob
        |  FROM cells),
        |rm AS (SELECT a AS cat, SUM(n) AS ra FROM cells GROUP BY 1),
        |cm AS (SELECT b AS cat, SUM(n) AS cb FROM cells GROUP BY 1),
        |de AS (
        |  SELECT COALESCE(SUM(CAST(abs(r.cat - c.cat) AS HUGEINT)
        |    * r.ra * c.cb), 0) AS dex
        |  FROM rm r CROSS JOIN cm c)
        |SELECT CAST(nn AS BIGINT) AS n,
        |  round(CAST(dob AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS d_o,
        |  round(CAST(dex AS DOUBLE)
        |    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS d_e,
        |  CASE WHEN CAST(dex AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) > 0.0 THEN
        |    round(1.0 - (CAST(dob AS DOUBLE) / CAST(nn AS DOUBLE))
        |      / (CAST(dex AS DOUBLE)
        |        / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))), 6) END AS kappa_w
        |FROM tot, de""".stripMargin,
    "q_cohen_h" ->
      """WITH ag AS (
        |  SELECT
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN event_type = 'purchase' AND value > 100.0
        |      THEN 1 ELSE 0 END) AS ka,
        |    SUM(CASE WHEN event_type = 'click' AND value > 100.0
        |      THEN 1 ELSE 0 END) AS kb
        |  FROM events WHERE (value > 100.0) IS NOT NULL)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN na > 0 THEN
        |    round(CAST(ka AS DOUBLE) / CAST(na AS DOUBLE), 6) END AS p_a,
        |  CASE WHEN nb > 0 THEN
        |    round(CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE), 6) END AS p_b,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round(2.0 * asin(sqrt(CAST(ka AS DOUBLE) / CAST(na AS DOUBLE)))
        |      - 2.0 * asin(sqrt(CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
        |  END AS h
        |FROM ag""".stripMargin,
    "q_partial_corr" ->
      """WITH v AS (
        |  SELECT CAST(round(l_quantity * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 1000000.0) AS BIGINT) AS y,
        |    CAST(round(l_discount * 1000000.0) AS BIGINT) AS z
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |ag AS (
        |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(z AS HUGEINT) * z) AS szz, SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * z) AS sxz, SUM(CAST(y AS HUGEINT) * z) AS syz
        |  FROM v),
        |m AS (
        |  SELECT n,
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e12 AS vx,
        |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e12 AS vy,
        |    (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e12 AS vz,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e12 AS cxy,
        |    (CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e12 AS cxz,
        |    (CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 1e12 AS cyz
        |  FROM ag),
        |r AS (
        |  SELECT n, vx, vy, vz,
        |    cxy / sqrt(vx * vy) AS rxy,
        |    cxz / sqrt(vx * vz) AS rxz,
        |    cyz / sqrt(vy * vz) AS ryz
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 2 AND vx > 0.0 AND vy > 0.0 AND vz > 0.0 THEN
        |    round(rxy, 6) END AS r_xy,
        |  CASE WHEN n >= 2 AND vx > 0.0 AND vy > 0.0 AND vz > 0.0 THEN
        |    round(rxz, 6) END AS r_xz,
        |  CASE WHEN n >= 2 AND vx > 0.0 AND vy > 0.0 AND vz > 0.0 THEN
        |    round(ryz, 6) END AS r_yz,
        |  CASE WHEN n >= 2 AND vx > 0.0 AND vy > 0.0 AND vz > 0.0
        |      AND (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0.0 THEN
        |    round((rxy - rxz * ryz)
        |      / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6) END AS r_xy_z
        |FROM r""".stripMargin,
    "q_odds_ratio" ->
      """WITH base AS (
        |  SELECT user_id % 4 AS stratum,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS e,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS o
        |  FROM events WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL),
        |cells AS (
        |  SELECT stratum,
        |    SUM(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS b,
        |    SUM(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS c,
        |    SUM(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS d
        |  FROM base GROUP BY 1)
        |SELECT stratum, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
        |  CASE WHEN b > 0 AND c > 0 THEN
        |    round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6) END AS odds_ratio,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    round(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |        / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
        |      - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |        + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))), 6)
        |  END AS ci_lo,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    round(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |        / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
        |      + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |        + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))), 6)
        |  END AS ci_hi
        |FROM cells ORDER BY stratum""".stripMargin,
    "q_by" ->
      """WITH tg AS (
        |  SELECT user_id % 8 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib,
        |    value AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT segment, v, SUM(ia) AS ca, SUM(ib) AS cb FROM tg GROUP BY 1, 2),
        |cc AS (
        |  SELECT segment,
        |    SUM(ca) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY segment) AS na,
        |    SUM(cb) OVER (PARTITION BY segment) AS nb
        |  FROM c),
        |kk AS (
        |  SELECT segment, na AS n_a, nb AS n_b,
        |    MAX(abs(cca * nb - ccb * na)) AS d_num
        |  FROM cc GROUP BY 1, 2, 3),
        |pv AS (
        |  SELECT segment, n_a, n_b, d_num,
        |    round(CAST(d_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks,
        |    round(least(1.0, 2.0 * exp(-2.0
        |      * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
        |      * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))))), 6) AS p
        |  FROM kk),
        |r AS (
        |  SELECT pv.*, row_number() OVER (ORDER BY p ASC NULLS LAST, segment) AS i,
        |    COUNT(p) OVER () AS m
        |  FROM pv),
        |r2 AS (
        |  SELECT r.*,
        |    CAST(SUM(CASE WHEN p IS NOT NULL THEN
        |        CAST(round(1000000000.0 / CAST(i AS DOUBLE)) AS BIGINT) END)
        |      OVER () AS DOUBLE) / 1000000000.0 AS h
        |  FROM r),
        |s AS (
        |  SELECT r2.*,
        |    round(least(1.0, MIN(CAST(m AS DOUBLE) * h * p / CAST(i AS DOUBLE))
        |      OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6)
        |      AS bh_q
        |  FROM r2)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(d_num AS BIGINT) AS d_num, ks, p,
        |  CASE WHEN p IS NOT NULL THEN CAST(i AS BIGINT) END AS bh_rank,
        |  CASE WHEN p IS NOT NULL THEN bh_q END AS bh_q,
        |  CASE WHEN p IS NOT NULL THEN (bh_q <= 0.1) END AS bh_reject
        |FROM s ORDER BY segment""".stripMargin,
    "q_jonckheere" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |c AS (SELECT g, x, COUNT(*) AS c FROM v GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.g AS pi, b.g AS pj
        |  FROM (SELECT DISTINCT g FROM c) a JOIN (SELECT DISTINCT g FROM c) b
        |    ON a.g < b.g),
        |ex AS (
        |  SELECT pr.pi, pr.pj, c.g, c.x, c.c
        |  FROM c JOIN pr ON c.g = pr.pi OR c.g = pr.pj),
        |sc AS (
        |  SELECT pi, pj, g, x, c,
        |    COALESCE(SUM(CASE WHEN g = pi THEN c ELSE 0 END)
        |      OVER (PARTITION BY pi, pj ORDER BY x
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fi,
        |    SUM(CASE WHEN g = pi THEN c ELSE 0 END)
        |      OVER (PARTITION BY pi, pj, x) AS cie
        |  FROM ex),
        |pt AS (
        |  SELECT CAST(c AS HUGEINT) * (2 * fi + cie) AS t FROM sc WHERE g = pj),
        |j2 AS (SELECT COALESCE(SUM(t), 0) AS j2 FROM pt),
        |sz AS (SELECT g, SUM(c) AS n FROM c GROUP BY 1),
        |ag AS (
        |  SELECT COUNT(*) AS k, SUM(n) AS nn,
        |    SUM(CAST(n AS HUGEINT) * n) AS n2,
        |    SUM(CAST(n AS HUGEINT) * n * (2 * n + 3)) AS n23
        |  FROM sz)
        |SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
        |  round(CAST(j2 AS DOUBLE) / 2.0, 6) AS j,
        |  CASE WHEN k >= 2
        |      AND (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |            * (2.0 * CAST(nn AS DOUBLE) + 3.0)
        |          - CAST(n23 AS DOUBLE)) / 72.0 > 0 THEN
        |    round((CAST(j2 AS DOUBLE) / 2.0
        |        - (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(n2 AS DOUBLE)) / 4.0)
        |      / sqrt((CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |            * (2.0 * CAST(nn AS DOUBLE) + 3.0)
        |          - CAST(n23 AS DOUBLE)) / 72.0), 6) END AS z
        |FROM ag CROSS JOIN j2""".stripMargin,
    "q_bowker" ->
      """WITH seq AS (
        |  SELECT event_type AS a,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
        |  FROM events),
        |cl AS (
        |  SELECT a, b, COUNT(*) AS n FROM seq
        |  WHERE b IS NOT NULL AND a <> b GROUP BY 1, 2),
        |p AS (
        |  SELECT least(a, b) AS u, greatest(a, b) AS v,
        |    SUM(CASE WHEN a < b THEN n ELSE 0 END) AS fwd,
        |    SUM(CASE WHEN a > b THEN n ELSE 0 END) AS rev
        |  FROM cl GROUP BY 1, 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(COUNT(*) AS BIGINT) AS dof,
        |  round(CAST(SUM(CAST(round(CAST(fwd - rev AS DOUBLE) * CAST(fwd - rev AS DOUBLE)
        |      / CAST(fwd + rev AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000000.0, 6) AS chi2
        |FROM p WHERE fwd + rev > 0""".stripMargin,
    "q_page_trend" ->
      """WITH pre AS (
        |  SELECT user_id % 16 AS b, event_type AS t,
        |    SUM(CAST(round(value * 100.0) AS BIGINT)) * 1000000 AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |k1 AS (SELECT COUNT(DISTINCT t) AS k FROM pre),
        |cb AS (
        |  SELECT b, t, x, k, COUNT(*) OVER (PARTITION BY b) AS nb
        |  FROM pre CROSS JOIN k1),
        |cpl AS (SELECT * FROM cb WHERE nb = k),
        |rk AS (
        |  SELECT t, k,
        |    2 * COUNT(*) OVER (PARTITION BY b ORDER BY x
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      + COUNT(*) OVER (PARTITION BY b, x) + 1 AS r2
        |  FROM cpl),
        |pt AS (SELECT t, k, COUNT(*) AS n, SUM(r2) AS r2j FROM rk GROUP BY 1, 2),
        |wc AS (
        |  SELECT t, k, n, r2j, row_number() OVER (ORDER BY t) AS c FROM pt),
        |ag AS (
        |  SELECT k, MAX(n) AS nb, SUM(CAST(c AS HUGEINT) * r2j) AS l2
        |  FROM wc GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS k, CAST(nb AS BIGINT) AS n_blocks,
        |  round(CAST(l2 AS DOUBLE) / 2.0, 6) AS l,
        |  CASE WHEN k >= 3 AND nb >= 2
        |      AND CAST(nb AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
        |        * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0)
        |        * (CAST(k AS DOUBLE) - 1.0) / 144.0 > 0 THEN
        |    round((CAST(l2 AS DOUBLE) / 2.0
        |        - CAST(nb AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
        |          * (CAST(k AS DOUBLE) + 1.0) / 4.0)
        |      / sqrt(CAST(nb AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
        |        * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0)
        |        * (CAST(k AS DOUBLE) - 1.0) / 144.0), 6)
        |  END AS z
        |FROM ag""".stripMargin,
    "q_pi0" ->
      """WITH tg AS (
        |  SELECT user_id % 8 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib,
        |    value AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT segment, v, SUM(ia) AS ca, SUM(ib) AS cb FROM tg GROUP BY 1, 2),
        |cc AS (
        |  SELECT segment,
        |    SUM(ca) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY segment) AS na,
        |    SUM(cb) OVER (PARTITION BY segment) AS nb
        |  FROM c),
        |kk AS (
        |  SELECT segment, na AS n_a, nb AS n_b,
        |    MAX(abs(cca * nb - ccb * na)) AS d_num
        |  FROM cc GROUP BY 1, 2, 3),
        |pv AS (
        |  SELECT segment,
        |    round(least(1.0, 2.0 * exp(-2.0
        |      * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
        |      * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))))), 6) AS p
        |  FROM kk)
        |SELECT CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS m,
        |  CAST(SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  CASE WHEN SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) >= 1 THEN
        |    round(least(1.0, CAST(SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / (0.5 * CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE))), 6)
        |  END AS pi0
        |FROM pv""".stripMargin,
    "q_tost" ->
      """WITH tg AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 'a'
        |              WHEN event_type = 'click' THEN 'b' END AS g,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |m AS (
        |  SELECT
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) END) AS sa,
        |    SUM(CASE WHEN g = 'a' THEN CAST(x AS HUGEINT) * x END) AS ssa,
        |    SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) END) AS sb,
        |    SUM(CASE WHEN g = 'b' THEN CAST(x AS HUGEINT) * x END) AS ssb
        |  FROM tg),
        |z AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0
        |      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0 AS diff,
        |    sqrt(CAST(na * ssa - sa * sa AS DOUBLE)
        |        / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) / 1e12 / CAST(na AS DOUBLE)
        |      + CAST(nb * ssb - sb * sb AS DOUBLE)
        |        / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) / 1e12 / CAST(nb AS DOUBLE))
        |      AS se
        |  FROM m)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(diff, 6) AS mean_diff,
        |  CASE WHEN na >= 2 AND nb >= 2 THEN round(se, 6) END AS se,
        |  CASE WHEN na >= 2 AND nb >= 2 THEN round((diff + 10.0) / se, 6) END AS t_lower,
        |  CASE WHEN na >= 2 AND nb >= 2 THEN round((10.0 - diff) / se, 6) END AS t_upper,
        |  CASE WHEN na >= 2 AND nb >= 2 THEN
        |    (round(least((diff + 10.0) / se, (10.0 - diff) / se), 6) > 1.6448536269514722)
        |  END AS equivalent
        |FROM z""".stripMargin,
    "q_mahalanobis" ->
      """WITH b AS (
        |  SELECT l_orderkey AS k1, l_linenumber AS k2,
        |    CAST(round(l_quantity * 1000000.0) AS BIGINT) AS xq,
        |    CAST(round(l_extendedprice * 1000000.0) AS BIGINT) AS yq
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
        |    SUM(CAST(xq AS HUGEINT) * xq) AS sxx, SUM(CAST(xq AS HUGEINT) * yq) AS sxy,
        |    SUM(CAST(yq AS HUGEINT) * yq) AS syy
        |  FROM b),
        |s AS (
        |  SELECT CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
        |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS mxx,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS myy,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS mxy
        |  FROM m),
        |d AS (
        |  SELECT k1, k2, xq, yq,
        |    nd * (nd - 1.0)
        |      * ((CAST(xq AS DOUBLE) - xbar) * (CAST(xq AS DOUBLE) - xbar) * myy
        |        - 2.0 * (CAST(xq AS DOUBLE) - xbar) * (CAST(yq AS DOUBLE) - ybar) * mxy
        |        + (CAST(yq AS DOUBLE) - ybar) * (CAST(yq AS DOUBLE) - ybar) * mxx)
        |      / (mxx * myy - mxy * mxy) AS d2
        |  FROM b CROSS JOIN s
        |  WHERE nd >= 3 AND mxx * myy - mxy * mxy > 0)
        |SELECT k1 AS l_orderkey, k2 AS l_linenumber,
        |  CAST(xq AS DOUBLE) / 1000000.0 AS x, CAST(yq AS DOUBLE) / 1000000.0 AS y,
        |  round(d2, 6) AS d2
        |FROM d ORDER BY round(d2, 9) DESC, k1, k2 LIMIT 10""".stripMargin,
    "q_gtest" ->
      """WITH cells AS (
        |  SELECT event_type AS a, user_id % 4 AS b, COUNT(*) AS o
        |  FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT a, b, o,
        |    SUM(o) OVER (PARTITION BY a) AS ra,
        |    SUM(o) OVER (PARTITION BY b) AS cb
        |  FROM cells),
        |t AS (
        |  SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c
        |  FROM cells),
        |s AS (
        |  SELECT t.r, t.c, t.n,
        |    SUM(CAST(round(CAST(o AS DOUBLE)
        |      * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
        |        / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))
        |      * 1000000000.0) AS BIGINT)) AS sg
        |  FROM m CROSS JOIN t GROUP BY 1, 2, 3)
        |SELECT CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
        |  CAST(n AS BIGINT) AS n,
        |  CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
        |  round(2.0 * CAST(sg AS DOUBLE) / 1000000000.0, 6) AS g
        |FROM s""".stripMargin,
    "q_cvm" ->
      """WITH tg AS (
        |  SELECT user_id % 8 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib,
        |    value AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT segment, v, SUM(ia) AS ca, SUM(ib) AS cb FROM tg GROUP BY 1, 2),
        |cc AS (
        |  SELECT segment, ca, cb,
        |    SUM(ca) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY segment) AS na,
        |    SUM(cb) OVER (PARTITION BY segment) AS nb
        |  FROM c),
        |a AS (
        |  SELECT segment, na AS n_a, nb AS n_b,
        |    SUM(CAST(ca + cb AS HUGEINT)
        |      * CAST(cca * nb - ccb * na AS HUGEINT)
        |      * CAST(cca * nb - ccb * na AS HUGEINT)) AS u
        |  FROM cc GROUP BY 1, 2, 3)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    round(CAST(u AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |         * CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
        |         * CAST(n_a + n_b AS DOUBLE)), 6) END AS cvm
        |FROM a ORDER BY segment""".stripMargin,
    "q_wasserstein" ->
      """WITH tg AS (
        |  SELECT user_id % 8 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT segment, v, SUM(ia) AS ca, SUM(ib) AS cb FROM tg GROUP BY 1, 2),
        |cc AS (
        |  SELECT segment,
        |    lead(v) OVER (PARTITION BY segment ORDER BY v) - v AS gap,
        |    SUM(ca) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY segment) AS na,
        |    SUM(cb) OVER (PARTITION BY segment) AS nb
        |  FROM c),
        |a AS (
        |  SELECT segment, na AS n_a, nb AS n_b,
        |    SUM(CAST(COALESCE(gap, 0) AS HUGEINT)
        |      * ABS(CAST(cca AS HUGEINT) * nb - CAST(ccb AS HUGEINT) * na)) AS num
        |  FROM cc GROUP BY 1, 2, 3)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST((num * 2 + CAST(n_a AS HUGEINT) * n_b)
        |      // (CAST(n_a AS HUGEINT) * n_b * 2) AS DOUBLE) / 1000000.0
        |  END AS w1
        |FROM a ORDER BY segment""".stripMargin,
    "q_energy" ->
      """WITH tg AS (
        |  SELECT user_id % 8 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT segment, v, SUM(ia) AS ca, SUM(ib) AS cb FROM tg GROUP BY 1, 2),
        |cc AS (
        |  SELECT segment,
        |    lead(v) OVER (PARTITION BY segment ORDER BY v) - v AS gap,
        |    SUM(ca) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY segment) AS na,
        |    SUM(cb) OVER (PARTITION BY segment) AS nb
        |  FROM c),
        |a AS (
        |  SELECT segment, na AS n_a, nb AS n_b,
        |    SUM(CAST(COALESCE(gap, 0) AS HUGEINT)
        |      * (CAST(cca AS HUGEINT) * (nb - ccb) + CAST(ccb AS HUGEINT) * (na - cca))) AS sxy,
        |    SUM(CAST(COALESCE(gap, 0) AS HUGEINT)
        |      * (CAST(cca AS HUGEINT) * (na - cca)) * 2) AS sxx,
        |    SUM(CAST(COALESCE(gap, 0) AS HUGEINT)
        |      * (CAST(ccb AS HUGEINT) * (nb - ccb)) * 2) AS syy
        |  FROM cc GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT segment, n_a, n_b,
        |    (sxy * 2 + CAST(n_a AS HUGEINT) * n_b)
        |      // (CAST(n_a AS HUGEINT) * n_b * 2) AS mxy,
        |    (sxx * 2 + CAST(n_a AS HUGEINT) * n_a)
        |      // (CAST(n_a AS HUGEINT) * n_a * 2) AS mxx,
        |    (syy * 2 + CAST(n_b AS HUGEINT) * n_b)
        |      // (CAST(n_b AS HUGEINT) * n_b * 2) AS myy
        |  FROM a)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN CAST(mxy AS DOUBLE) / 1000000.0
        |  END AS mean_cross,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN CAST(mxx AS DOUBLE) / 1000000.0
        |  END AS mean_within_a,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN CAST(myy AS DOUBLE) / 1000000.0
        |  END AS mean_within_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    CAST(2 * mxy - mxx - myy AS DOUBLE) / 1000000.0
        |  END AS energy
        |FROM m ORDER BY segment""".stripMargin,
    "q_holm" ->
      """WITH tg AS (
        |  SELECT user_id % 8 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib,
        |    value AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT segment, v, SUM(ia) AS ca, SUM(ib) AS cb FROM tg GROUP BY 1, 2),
        |cc AS (
        |  SELECT segment,
        |    SUM(ca) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY segment) AS na,
        |    SUM(cb) OVER (PARTITION BY segment) AS nb
        |  FROM c),
        |kk AS (
        |  SELECT segment, na AS n_a, nb AS n_b,
        |    MAX(abs(cca * nb - ccb * na)) AS d_num
        |  FROM cc GROUP BY 1, 2, 3),
        |pv AS (
        |  SELECT segment, n_a, n_b, d_num,
        |    round(CAST(d_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks,
        |    round(least(1.0, 2.0 * exp(-2.0
        |      * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
        |      * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))))), 6) AS p
        |  FROM kk),
        |r AS (
        |  SELECT pv.*, row_number() OVER (ORDER BY p ASC NULLS LAST, segment) AS i,
        |    COUNT(p) OVER () AS m
        |  FROM pv),
        |s AS (
        |  SELECT r.*,
        |    round(least(1.0, MAX(CAST(m - i + 1 AS DOUBLE) * p)
        |      OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |      AS holm_adj
        |  FROM r)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(d_num AS BIGINT) AS d_num, ks, p,
        |  CASE WHEN p IS NOT NULL THEN CAST(i AS BIGINT) END AS holm_rank,
        |  CASE WHEN p IS NOT NULL THEN holm_adj END AS holm_adj,
        |  CASE WHEN p IS NOT NULL THEN (holm_adj <= 0.1) END AS holm_reject
        |FROM s ORDER BY segment""".stripMargin,
    "q_icc" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |pg AS (
        |  SELECT g, COUNT(*) AS ng, SUM(x) AS sg, SUM(x * x) AS ssg
        |  FROM v GROUP BY 1),
        |gr AS (SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s FROM pg),
        |tm AS (
        |  SELECT pg.ng, k, n,
        |    CAST(round(CAST(ng AS DOUBLE)
        |      * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) / 1000000.0
        |         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
        |      * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) / 1000000.0
        |         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
        |      * 1000000000.0) AS BIGINT) AS tb,
        |    CAST(round(CAST(ng * ssg - sg * sg AS DOUBLE)
        |      / CAST(ng AS DOUBLE) / 1000000000000.0 * 1000000000.0) AS BIGINT) AS tw
        |  FROM pg CROSS JOIN gr),
        |a AS (
        |  SELECT k, n, SUM(tb) AS ssb, SUM(tw) AS ssw,
        |    SUM(CAST(ng AS HUGEINT) * ng) AS sn2
        |  FROM tm GROUP BY 1, 2)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  CASE WHEN k >= 2 AND n > k THEN
        |    round((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(k AS DOUBLE) - 1.0), 6) END AS k0,
        |  CASE WHEN k >= 2 AND n > k THEN
        |    round(CAST(ssb AS DOUBLE) / 1000000000.0 / (CAST(k AS DOUBLE) - 1.0), 6)
        |  END AS ms_between,
        |  CASE WHEN k >= 2 AND n > k THEN
        |    round(CAST(ssw AS DOUBLE) / 1000000000.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)), 6)
        |  END AS ms_within,
        |  CASE WHEN k >= 2 AND n > k
        |      AND (CAST(ssb AS DOUBLE) / 1000000000.0 / (CAST(k AS DOUBLE) - 1.0)
        |        + ((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE))
        |             / (CAST(k AS DOUBLE) - 1.0) - 1.0)
        |          * (CAST(ssw AS DOUBLE) / 1000000000.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))) <> 0
        |    THEN round(
        |      (CAST(ssb AS DOUBLE) / 1000000000.0 / (CAST(k AS DOUBLE) - 1.0)
        |        - CAST(ssw AS DOUBLE) / 1000000000.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |      / (CAST(ssb AS DOUBLE) / 1000000000.0 / (CAST(k AS DOUBLE) - 1.0)
        |        + ((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE))
        |             / (CAST(k AS DOUBLE) - 1.0) - 1.0)
        |          * (CAST(ssw AS DOUBLE) / 1000000000.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))), 6)
        |  END AS icc
        |FROM a""".stripMargin,
    "q_rank_biserial" ->
      """WITH tg AS (
        |  SELECT user_id % 4 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 'a'
        |         WHEN event_type = 'click' THEN 'b' END AS g,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |bv AS (
        |  SELECT segment, x,
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na_v,
        |    COUNT(*) AS n_v
        |  FROM tg GROUP BY 1, 2),
        |rk AS (
        |  SELECT segment, na_v, n_v,
        |    COALESCE(SUM(n_v) OVER (PARTITION BY segment ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM bv),
        |a AS (
        |  SELECT segment, SUM(na_v) AS na, SUM(n_v - na_v) AS nb,
        |    SUM(na_v * (2 * cb + n_v + 1)) AS ra2
        |  FROM rk GROUP BY 1),
        |f AS (SELECT segment, na, nb, ra2 - na * (na + 1) AS u2 FROM a)
        |SELECT segment, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN na >= 1 AND nb >= 1 THEN
        |    round(CAST(u2 AS DOUBLE)
        |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) - 1.0, 6) END AS r_rb
        |FROM f ORDER BY segment""".stripMargin,
    "q_yuen" ->
      """WITH tg AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 'a'
        |       WHEN event_type = 'click' THEN 'b' END AS g,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |r AS (
        |  SELECT g, x,
        |    row_number() OVER (PARTITION BY g ORDER BY x) AS i,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM tg),
        |kk AS (SELECT g, x, i, n, (n * 1) // 5 AS k FROM r),
        |b AS (
        |  SELECT g, x, i, n, k,
        |    MAX(CASE WHEN i <= k + 1 THEN x END) OVER (PARTITION BY g) AS lo,
        |    MIN(CASE WHEN i >= n - k THEN x END) OVER (PARTITION BY g) AS hi
        |  FROM kk),
        |s AS (
        |  SELECT g, MAX(n) AS n, MAX(k) AS k,
        |    SUM(CASE WHEN i > k AND i <= n - k THEN x END) AS ts,
        |    SUM(CASE WHEN i > k AND i <= n - k THEN 1 ELSE 0 END) AS h,
        |    SUM(LEAST(GREATEST(x, lo), hi)) AS ws,
        |    SUM(CAST(LEAST(GREATEST(x, lo), hi) AS HUGEINT)
        |      * LEAST(GREATEST(x, lo), hi)) AS ws2
        |  FROM b GROUP BY 1),
        |f AS (
        |  SELECT
        |    MAX(CASE WHEN g = 'a' THEN n END) AS na,
        |    MAX(CASE WHEN g = 'b' THEN n END) AS nb,
        |    MAX(CASE WHEN g = 'a' THEN h END) AS ha,
        |    MAX(CASE WHEN g = 'b' THEN h END) AS hb,
        |    MAX(CASE WHEN g = 'a' THEN ts END) AS tsa,
        |    MAX(CASE WHEN g = 'b' THEN ts END) AS tsb,
        |    MAX(CASE WHEN g = 'a' THEN ws END) AS wsa,
        |    MAX(CASE WHEN g = 'b' THEN ws END) AS wsb,
        |    MAX(CASE WHEN g = 'a' THEN ws2 END) AS ws2a,
        |    MAX(CASE WHEN g = 'b' THEN ws2 END) AS ws2b
        |  FROM s),
        |z AS (
        |  SELECT na, nb, ha, hb,
        |    CAST(tsa AS DOUBLE) / CAST(ha AS DOUBLE) / 1000000.0 AS tma,
        |    CAST(tsb AS DOUBLE) / CAST(hb AS DOUBLE) / 1000000.0 AS tmb,
        |    (CAST(ws2a AS DOUBLE) - CAST(wsa AS DOUBLE) * CAST(wsa AS DOUBLE)
        |        / CAST(na AS DOUBLE))
        |      / (CAST(ha AS DOUBLE) * (CAST(ha AS DOUBLE) - 1.0))
        |      / 1000000000000.0 AS da,
        |    (CAST(ws2b AS DOUBLE) - CAST(wsb AS DOUBLE) * CAST(wsb AS DOUBLE)
        |        / CAST(nb AS DOUBLE))
        |      / (CAST(hb AS DOUBLE) * (CAST(hb AS DOUBLE) - 1.0))
        |      / 1000000000000.0 AS db
        |  FROM f)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(ha AS BIGINT) AS h_a, CAST(hb AS BIGINT) AS h_b,
        |  CASE WHEN ha > 0 THEN round(tma, 6) END AS tm_a,
        |  CASE WHEN hb > 0 THEN round(tmb, 6) END AS tm_b,
        |  CASE WHEN ha >= 2 AND hb >= 2 AND da + db > 0.0 THEN
        |    round((tma - tmb) / sqrt(da + db), 6) END AS t,
        |  CASE WHEN ha >= 2 AND hb >= 2 AND da + db > 0.0 THEN
        |    round((da + db) * (da + db)
        |      / (da * da / (CAST(ha AS DOUBLE) - 1.0)
        |        + db * db / (CAST(hb AS DOUBLE) - 1.0)), 6) END AS df
        |FROM z""".stripMargin,
    "q_dunn" ->
      """WITH v AS (
        |  SELECT event_type AS l, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT l, x, COUNT(*) AS nlv FROM v GROUP BY 1, 2),
        |rk AS (
        |  SELECT l, nlv,
        |    COALESCE(SUM(nlv) OVER (ORDER BY x
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
        |    SUM(nlv) OVER (PARTITION BY x) AS nv,
        |    ROW_NUMBER() OVER (PARTITION BY x ORDER BY l) AS rn
        |  FROM cells),
        |pl AS (
        |  SELECT l, SUM(nlv) AS nj,
        |    SUM(CAST(nlv AS HUGEINT) * (2 * cb + nv + 1)) AS r2,
        |    SUM(CASE WHEN rn = 1 THEN CAST(nv AS HUGEINT) * nv * nv - nv ELSE 0 END) AS t3
        |  FROM rk GROUP BY 1),
        |g AS (SELECT SUM(nj) AS n, SUM(t3) AS t FROM pl),
        |p AS (
        |  SELECT a.l AS la, b.l AS lb, a.nj AS na, b.nj AS nb,
        |    a.r2 AS ra, b.r2 AS rb, n, t
        |  FROM pl a JOIN pl b ON a.l < b.l CROSS JOIN g),
        |f AS (
        |  SELECT la, lb, na, nb, n,
        |    CAST(ra AS DOUBLE) / (2.0 * CAST(na AS DOUBLE)) AS mra,
        |    CAST(rb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE)) AS mrb,
        |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
        |      - CAST(t AS DOUBLE) / (12.0 * (CAST(n AS DOUBLE) - 1.0)) AS s2
        |  FROM p)
        |SELECT la AS level_a, lb AS level_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(mra, 6) AS mean_rank_a, round(mrb, 6) AS mean_rank_b,
        |  CASE WHEN n >= 2 AND s2 > 0.0 THEN
        |    round((mra - mrb) / sqrt(s2 * (1.0 / CAST(na AS DOUBLE)
        |      + 1.0 / CAST(nb AS DOUBLE))), 6) END AS z
        |FROM f ORDER BY level_a, level_b""".stripMargin,
    "q_mood" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |bv AS (SELECT x, COUNT(*) AS nv FROM v GROUP BY 1),
        |tt AS (SELECT SUM(nv) AS nn FROM bv),
        |cm AS (
        |  SELECT x, nn, SUM(nv) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bv CROSS JOIN tt),
        |md AS (SELECT MIN(x) AS med FROM cm WHERE cum * 2 >= nn),
        |ct AS (
        |  SELECT g, COUNT(*) AS ni,
        |    SUM(CASE WHEN x > med THEN 1 ELSE 0 END) AS ai
        |  FROM v CROSS JOIN md GROUP BY 1),
        |rl AS (SELECT COUNT(*) AS k, SUM(ni) AS n, SUM(ai) AS na FROM ct),
        |ex AS (
        |  SELECT k, n, na, ni, ai,
        |    CAST(ni AS DOUBLE) * CAST(na AS DOUBLE) / CAST(n AS DOUBLE) AS ea,
        |    CAST(ni AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
        |      / CAST(n AS DOUBLE) AS eb
        |  FROM ct CROSS JOIN rl),
        |tm AS (
        |  SELECT k, n, na,
        |    CASE WHEN na > 0 AND na < n THEN
        |      CAST(round(((CAST(ai AS DOUBLE) - ea) * (CAST(ai AS DOUBLE) - ea) / ea
        |        + ((CAST(ni AS DOUBLE) - CAST(ai AS DOUBLE)) - eb)
        |          * ((CAST(ni AS DOUBLE) - CAST(ai AS DOUBLE)) - eb) / eb)
        |        * 1000000000.0) AS BIGINT) END AS t
        |  FROM ex),
        |ag AS (SELECT k, n, na, SUM(t) AS chi FROM tm GROUP BY 1, 2, 3)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  CAST(na AS BIGINT) AS n_above,
        |  CASE WHEN k >= 2 AND na > 0 AND na < n THEN
        |    round(CAST(chi AS DOUBLE) / 1000000000.0, 6) END AS chi2
        |FROM ag""".stripMargin,
    "q_ca_trend" ->
      """WITH b AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
        |lv AS (SELECT s, COUNT(*) AS n, SUM(y) AS r FROM b GROUP BY 1),
        |ag AS (
        |  SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(r) AS rr,
        |    SUM(s * n) AS sn, SUM(s * r) AS sr, SUM(s * s * n) AS ssn
        |  FROM lv),
        |zz AS (
        |  SELECT k, nn, rr,
        |    CAST(nn * sr - rr * sn AS DOUBLE) * sqrt(CAST(nn AS DOUBLE))
        |      / sqrt(CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE)
        |        * CAST(nn * ssn - sn * sn AS DOUBLE)) AS z,
        |    CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE)
        |      * CAST(nn * ssn - sn * sn AS DOUBLE) AS bb
        |  FROM ag)
        |SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
        |  CAST(rr AS BIGINT) AS n_success,
        |  CASE WHEN k >= 2 AND bb > 0.0 THEN round(z, 6) END AS z,
        |  CASE WHEN k >= 2 AND bb > 0.0 THEN round(z * z, 6) END AS chi2
        |FROM zz""".stripMargin,
    "q_breslow_day" ->
      """WITH base AS (
        |  SELECT user_id % 4 AS s,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS e,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS o
        |  FROM events WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL),
        |cells AS (
        |  SELECT s,
        |    SUM(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS b,
        |    SUM(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS c,
        |    SUM(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS d
        |  FROM base GROUP BY 1),
        |us AS (SELECT * FROM cells
        |  WHERE a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0),
        |orp AS (
        |  SELECT
        |    SUM(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |      / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
        |        + CAST(d AS DOUBLE)) * 1e9) AS HUGEINT)) AS so,
        |    SUM(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
        |      / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
        |        + CAST(d AS DOUBLE)) * 1e9) AS HUGEINT)) AS sd
        |  FROM us),
        |x AS (
        |  SELECT a, b, c, d, so, sd,
        |    CAST(a AS DOUBLE) + CAST(b AS DOUBLE) AS n1,
        |    CAST(c AS DOUBLE) + CAST(d AS DOUBLE) AS n2,
        |    CAST(a AS DOUBLE) + CAST(c AS DOUBLE) AS m1,
        |    CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
        |      + CAST(d AS DOUBLE) AS nd,
        |    CAST(so AS DOUBLE) / CAST(sd AS DOUBLE) AS psi
        |  FROM us CROSS JOIN orp),
        |q AS (
        |  SELECT *, 1.0 - psi AS qa, (n2 - m1) + psi * (n1 + m1) AS qb,
        |    -psi * n1 * m1 AS qc
        |  FROM x),
        |rt AS (
        |  SELECT *, sqrt(qb * qb - 4.0 * qa * qc) AS disc,
        |    GREATEST(0.0, m1 - n2) AS lo, LEAST(n1, m1) AS hi
        |  FROM q),
        |xe AS (
        |  SELECT *,
        |    CASE WHEN qa = 0.0 THEN n1 * m1 / nd
        |         WHEN (-qb + disc) / (2.0 * qa) > lo
        |          AND (-qb + disc) / (2.0 * qa) < hi
        |           THEN (-qb + disc) / (2.0 * qa)
        |         ELSE (-qb - disc) / (2.0 * qa) END AS xq
        |  FROM rt),
        |tm AS (
        |  SELECT so, sd,
        |    CASE WHEN xq > lo AND xq < hi THEN
        |      CAST(round((CAST(a AS DOUBLE) - xq) * (CAST(a AS DOUBLE) - xq)
        |        * (1.0 / xq + 1.0 / (n1 - xq) + 1.0 / (m1 - xq)
        |          + 1.0 / (n2 - m1 + xq)) * 1e9) AS HUGEINT) END AS t,
        |    CASE WHEN xq > lo AND xq < hi THEN 1 ELSE 0 END AS kk,
        |    a + b + c + d AS n
        |  FROM xe),
        |ag AS (SELECT so, sd, SUM(kk) AS ns, SUM(n) AS n, SUM(t) AS chi
        |  FROM tm GROUP BY 1, 2)
        |SELECT CAST(ns AS BIGINT) AS n_strata, CAST(n AS BIGINT) AS n,
        |  CASE WHEN sd > 0 THEN
        |    round(CAST(so AS DOUBLE) / CAST(sd AS DOUBLE), 6) END AS or_mh,
        |  CASE WHEN ns >= 2 AND sd > 0 THEN
        |    round(CAST(chi AS DOUBLE) / 1e9, 6) END AS chi2
        |FROM ag""".stripMargin,
    "q_cochran" ->
      """WITH w AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS tp,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS tc,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS tv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT tp, tc, tv, tp + tc + tv AS rs FROM w),
        |ag AS (
        |  SELECT COUNT(*) AS n, SUM(rs) AS sr, SUM(rs * rs) AS sr2,
        |    SUM(tp) AS t0, SUM(tc) AS t1, SUM(tv) AS t2
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n, 3 AS k,
        |  CASE WHEN CAST(3 * sr - sr2 AS DOUBLE) > 0.0 THEN
        |    round(CAST(3 * (CAST(t0 AS HUGEINT) * t0 + CAST(t1 AS HUGEINT) * t1
        |          + CAST(t2 AS HUGEINT) * t2)
        |        - CAST(t0 + t1 + t2 AS HUGEINT) * (t0 + t1 + t2) AS DOUBLE) * 2.0
        |      / CAST(3 * sr - sr2 AS DOUBLE), 6) END AS q
        |FROM ag""".stripMargin,
    "q_cronbach" ->
      """WITH it AS (
        |  SELECT CAST(length(text) AS BIGINT) * 1000000 AS i0,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) * 1000000 AS i1,
        |    CAST(length(regexp_replace(text, '[^.!?]', '', 'g')) AS BIGINT)
        |      * 1000000 AS i2
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT i0, i1, i2, i0 + i1 + i2 AS tt FROM it),
        |ag AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(tt) AS ts, SUM(CAST(tt AS HUGEINT) * tt) AS ts2,
        |    SUM(i0) AS s0, SUM(CAST(i0 AS HUGEINT) * i0) AS q0,
        |    SUM(i1) AS s1, SUM(CAST(i1 AS HUGEINT) * i1) AS q1,
        |    SUM(i2) AS s2, SUM(CAST(i2 AS HUGEINT) * i2) AS q2
        |  FROM r),
        |vs AS (
        |  SELECT n,
        |    (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e12 AS v0,
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e12 AS v1,
        |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e12 AS v2,
        |    (CAST(ts2 AS DOUBLE) - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 1e12 AS vt
        |  FROM ag)
        |SELECT CAST(n AS BIGINT) AS n, 3 AS k,
        |  CASE WHEN n >= 2 THEN round(v0 + v1 + v2, 6) END AS item_var_sum,
        |  CASE WHEN n >= 2 THEN round(vt, 6) END AS total_var,
        |  CASE WHEN n >= 2 AND vt > 0.0 THEN
        |    round(1.5 * (1.0 - (v0 + v1 + v2) / vt), 6) END AS alpha
        |FROM vs""".stripMargin,
    "q_friedman" -> friedmanOracleSql,
    "q_kendall_w" ->
      s"""WITH f AS (
         |$friedmanOracleSql
         |)
         |SELECT k, n_blocks,
         |  CASE WHEN chi2_tie IS NOT NULL
         |      AND CAST(n_blocks AS DOUBLE) * CAST(k - 1 AS DOUBLE) > 0.0 THEN
         |    round(chi2_tie / (CAST(n_blocks AS DOUBLE)
         |      * CAST(k - 1 AS DOUBLE)), 6) END AS w
         |FROM f""".stripMargin,

    "q_kruskal" ->
      """WITH v AS (
        |  SELECT user_id % 4 AS segment, event_type AS l,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT segment, l, x, COUNT(*) AS nlv FROM v GROUP BY 1, 2, 3),
        |rk AS (
        |  SELECT segment, l, nlv,
        |    COALESCE(SUM(nlv) OVER (PARTITION BY segment ORDER BY x
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
        |    SUM(nlv) OVER (PARTITION BY segment, x) AS nv,
        |    ROW_NUMBER() OVER (PARTITION BY segment, x ORDER BY l) AS rn
        |  FROM cells),
        |pl AS (
        |  SELECT segment, l, SUM(nlv) AS nj,
        |    SUM(CAST(nlv AS HUGEINT) * (2 * cb + nv + 1)) AS r2,
        |    SUM(CASE WHEN rn = 1 THEN CAST(nv AS HUGEINT) * nv * nv - nv ELSE 0 END) AS t3
        |  FROM rk GROUP BY 1, 2),
        |ag AS (
        |  SELECT segment, COUNT(*) AS k, SUM(nj) AS n,
        |    SUM(CAST(round(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
        |      / (4.0 * CAST(nj AS DOUBLE)) * 1000000.0) AS HUGEINT)) AS s,
        |    SUM(t3) AS ties
        |  FROM pl GROUP BY 1)
        |SELECT segment, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  CAST(ties AS BIGINT) AS tie_cubes,
        |  CASE WHEN k >= 2 AND n > k THEN
        |    round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |        * (CAST(s AS DOUBLE) / 1000000.0)
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) END AS h,
        |  CASE WHEN k >= 2 AND n > k
        |      AND 1.0 - CAST(ties AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          - CAST(n AS DOUBLE)) > 0.0 THEN
        |    round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |        * (CAST(s AS DOUBLE) / 1000000.0)
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |      / (1.0 - CAST(ties AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          - CAST(n AS DOUBLE))), 6) END AS h_tie
        |FROM ag ORDER BY segment""".stripMargin,
    "q_gamma" ->
      """WITH v AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_discount * 100) AS BIGINT) AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |cells AS (SELECT x, y, CAST(COUNT(*) AS HUGEINT) AS n FROM v GROUP BY 1, 2),
        |ps AS (
        |  SELECT
        |    SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END) AS c,
        |    SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END) AS d,
        |    SUM(CASE WHEN b.y = a.y THEN a.n * b.n ELSE 0 END) AS ty
        |  FROM cells a JOIN cells b ON b.x > a.x),
        |tx AS (
        |  SELECT SUM(a.n * b.n) AS tx
        |  FROM cells a JOIN cells b ON b.x = a.x AND b.y > a.y),
        |nt AS (SELECT SUM(n) AS n FROM cells)
        |SELECT CAST(nt.n AS BIGINT) AS n,
        |  CAST(COALESCE(ps.c, 0) AS BIGINT) AS c_pairs,
        |  CAST(COALESCE(ps.d, 0) AS BIGINT) AS d_pairs,
        |  CAST(COALESCE(tx.tx, 0) AS BIGINT) AS tx_pairs,
        |  CAST(COALESCE(ps.ty, 0) AS BIGINT) AS ty_pairs,
        |  CASE WHEN CAST(COALESCE(ps.c, 0) AS DOUBLE) + CAST(COALESCE(ps.d, 0) AS DOUBLE) > 0.0
        |    THEN round((CAST(COALESCE(ps.c, 0) AS DOUBLE) - CAST(COALESCE(ps.d, 0) AS DOUBLE))
        |      / (CAST(COALESCE(ps.c, 0) AS DOUBLE) + CAST(COALESCE(ps.d, 0) AS DOUBLE)), 6)
        |  END AS gamma,
        |  CASE WHEN CAST(COALESCE(ps.c, 0) AS DOUBLE) + CAST(COALESCE(ps.d, 0) AS DOUBLE)
        |      + CAST(COALESCE(ps.ty, 0) AS DOUBLE) > 0.0
        |    THEN round((CAST(COALESCE(ps.c, 0) AS DOUBLE) - CAST(COALESCE(ps.d, 0) AS DOUBLE))
        |      / (CAST(COALESCE(ps.c, 0) AS DOUBLE) + CAST(COALESCE(ps.d, 0) AS DOUBLE)
        |        + CAST(COALESCE(ps.ty, 0) AS DOUBLE)), 6)
        |  END AS somers_d_yx,
        |  CASE WHEN (CAST(COALESCE(ps.c, 0) AS DOUBLE) + CAST(COALESCE(ps.d, 0) AS DOUBLE)
        |        + CAST(COALESCE(tx.tx, 0) AS DOUBLE))
        |      * (CAST(COALESCE(ps.c, 0) AS DOUBLE) + CAST(COALESCE(ps.d, 0) AS DOUBLE)
        |        + CAST(COALESCE(ps.ty, 0) AS DOUBLE)) > 0.0
        |    THEN round((CAST(COALESCE(ps.c, 0) AS DOUBLE) - CAST(COALESCE(ps.d, 0) AS DOUBLE))
        |      / sqrt((CAST(COALESCE(ps.c, 0) AS DOUBLE) + CAST(COALESCE(ps.d, 0) AS DOUBLE)
        |          + CAST(COALESCE(tx.tx, 0) AS DOUBLE))
        |        * (CAST(COALESCE(ps.c, 0) AS DOUBLE) + CAST(COALESCE(ps.d, 0) AS DOUBLE)
        |          + CAST(COALESCE(ps.ty, 0) AS DOUBLE))), 6)
        |  END AS tau_b
        |FROM ps CROSS JOIN tx CROSS JOIN nt""".stripMargin,
    "q_pchart" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS t,
        |    CASE WHEN value IS NOT NULL AND value > 50.0 THEN 1 ELSE 0 END AS s
        |  FROM events WHERE event_type IS NOT NULL),
        |byt AS (
        |  SELECT event_type, t, COUNT(*) AS n, SUM(s) AS k
        |  FROM b GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n_periods, SUM(n) AS trials,
        |    CAST(SUM(k) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS pb
        |  FROM byt GROUP BY 1),
        |j AS (
        |  SELECT byt.event_type, byt.n, byt.k, tot.n_periods, tot.trials, tot.pb,
        |    CAST(round(CAST(byt.k AS DOUBLE) / CAST(byt.n AS DOUBLE)
        |      * 1000000000.0) AS BIGINT) AS ptq,
        |    CAST(round((tot.pb + 3.0 * sqrt(tot.pb * (1.0 - tot.pb)
        |      / CAST(byt.n AS DOUBLE))) * 1000000000.0) AS BIGINT) AS uclq,
        |    CAST(round((tot.pb - 3.0 * sqrt(tot.pb * (1.0 - tot.pb)
        |      / CAST(byt.n AS DOUBLE))) * 1000000000.0) AS BIGINT) AS lclq
        |  FROM byt JOIN tot ON byt.event_type = tot.event_type)
        |SELECT event_type, CAST(MAX(n_periods) AS BIGINT) AS n_periods,
        |  CAST(MAX(trials) AS BIGINT) AS trials,
        |  round(MAX(pb), 6) AS pbar,
        |  CAST(SUM(CASE WHEN ptq > uclq THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  CAST(SUM(CASE WHEN ptq < lclq THEN 1 ELSE 0 END) AS BIGINT) AS n_below
        |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_jarque_bera" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |st AS (
        |  SELECT g, COUNT(*) AS n, SUM(x) AS s1, SUM(CAST(x AS HUGEINT) * x) AS s2
        |  FROM v GROUP BY 1),
        |ms AS (
        |  SELECT g, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt((CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0)) AS sd
        |  FROM st),
        |zz AS (
        |  SELECT v.g, ms.n,
        |    CASE WHEN sd > 0.0 THEN CAST(round(
        |      ((CAST(x AS DOUBLE) - mu) / sd) * ((CAST(x AS DOUBLE) - mu) / sd)
        |        * ((CAST(x AS DOUBLE) - mu) / sd) * 1000000.0) AS HUGEINT) END AS z3,
        |    CASE WHEN sd > 0.0 THEN CAST(round(
        |      ((CAST(x AS DOUBLE) - mu) / sd) * ((CAST(x AS DOUBLE) - mu) / sd)
        |        * ((CAST(x AS DOUBLE) - mu) / sd) * ((CAST(x AS DOUBLE) - mu) / sd)
        |        * 1000000.0) AS HUGEINT) END AS z4
        |  FROM v JOIN ms ON v.g = ms.g),
        |ag AS (SELECT g, MAX(n) AS n, SUM(z3) AS z3s, SUM(z4) AS z4s FROM zz GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 2 AND z4s IS NOT NULL THEN
        |    round(CAST(z3s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
        |  END AS skewness,
        |  CASE WHEN n >= 2 AND z4s IS NOT NULL THEN
        |    round(CAST(z4s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6)
        |  END AS kurtosis,
        |  CASE WHEN n >= 2 AND z4s IS NOT NULL THEN
        |    round(CAST(n AS DOUBLE) / 6.0
        |      * ((CAST(z3s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
        |          * (CAST(z3s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
        |        + (CAST(z4s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) - 3.0)
        |          * (CAST(z4s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) - 3.0)
        |          / 4.0), 6)
        |  END AS jb
        |FROM ag ORDER BY event_type""".stripMargin,
    "q_dagostino" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |st AS (
        |  SELECT g, COUNT(*) AS n, SUM(x) AS s1, SUM(CAST(x AS HUGEINT) * x) AS s2
        |  FROM v GROUP BY 1),
        |ms AS (
        |  SELECT g, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    sqrt((CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1.0)) AS sd
        |  FROM st),
        |zz AS (
        |  SELECT v.g, ms.n,
        |    CASE WHEN sd > 0.0 THEN CAST(round(
        |      ((CAST(x AS DOUBLE) - mu) / sd) * ((CAST(x AS DOUBLE) - mu) / sd)
        |        * ((CAST(x AS DOUBLE) - mu) / sd) * 1000000.0) AS HUGEINT) END AS z3,
        |    CASE WHEN sd > 0.0 THEN CAST(round(
        |      ((CAST(x AS DOUBLE) - mu) / sd) * ((CAST(x AS DOUBLE) - mu) / sd)
        |        * ((CAST(x AS DOUBLE) - mu) / sd) * ((CAST(x AS DOUBLE) - mu) / sd)
        |        * 1000000.0) AS HUGEINT) END AS z4
        |  FROM v JOIN ms ON v.g = ms.g),
        |ag AS (SELECT g, MAX(n) AS n, SUM(z3) AS z3s, SUM(z4) AS z4s FROM zz GROUP BY 1),
        |gb AS (
        |  SELECT g, n, z4s, CAST(n AS DOUBLE) AS nd,
        |    CAST(z3s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
        |      * pow(CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0), 1.5) AS g1,
        |    CAST(z4s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
        |      * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0))
        |      * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)) AS b2
        |  FROM ag),
        |t1 AS (
        |  SELECT g, n, z4s, nd, g1, b2,
        |    g1 * sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0))) AS y,
        |    sqrt(2.0 * (3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
        |      / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0)) - 1.0)) - 1.0 AS w2,
        |    (b2 - 3.0 * (nd - 1.0) / (nd + 1.0))
        |      / sqrt(24.0 * nd * (nd - 2.0) * (nd - 3.0)
        |        / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))) AS xs,
        |    6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
        |      * sqrt(6.0 * (nd + 3.0) * (nd + 5.0)
        |        / (nd * (nd - 2.0) * (nd - 3.0))) AS sb1
        |  FROM gb),
        |t2 AS (
        |  SELECT g, n, z4s, g1, b2, xs,
        |    (1.0 / sqrt(ln(sqrt(w2))))
        |      * ln(y / sqrt(2.0 / (w2 - 1.0))
        |        + sqrt((y / sqrt(2.0 / (w2 - 1.0))) * (y / sqrt(2.0 / (w2 - 1.0)))
        |          + 1.0)) AS z1,
        |    6.0 + 8.0 / sb1 * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1))) AS a
        |  FROM t1),
        |t3 AS (
        |  SELECT g, n, z4s, g1, b2, z1,
        |    ((1.0 - 2.0 / (9.0 * a))
        |      - cbrt((1.0 - 2.0 / a) / (1.0 + xs * sqrt(2.0 / (a - 4.0)))))
        |      / sqrt(2.0 / (9.0 * a)) AS z2
        |  FROM t2)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 8 AND z4s IS NOT NULL THEN round(g1, 6) END AS g1,
        |  CASE WHEN n >= 8 AND z4s IS NOT NULL THEN round(b2, 6) END AS b2,
        |  CASE WHEN n >= 8 AND z4s IS NOT NULL THEN round(z1, 6) END AS z1,
        |  CASE WHEN n >= 8 AND z4s IS NOT NULL THEN round(z2, 6) END AS z2,
        |  CASE WHEN n >= 8 AND z4s IS NOT NULL THEN round(z1 * z1 + z2 * z2, 6) END AS k2
        |FROM t3 ORDER BY event_type""".stripMargin,
    "q_ad2" ->
      """WITH tg AS (
        |  SELECT user_id % 8 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib,
        |    value AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT segment, v, SUM(ia) AS ca, SUM(ib) AS cb FROM tg GROUP BY 1, 2),
        |cc AS (
        |  SELECT segment, ca, cb,
        |    SUM(ca) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY segment) AS na,
        |    SUM(cb) OVER (PARTITION BY segment) AS nb
        |  FROM c),
        |t AS (
        |  SELECT segment, na, nb,
        |    CASE WHEN cca + ccb < na + nb THEN CAST(round(
        |      CAST(CAST(ca + cb AS HUGEINT)
        |          * CAST((na + nb) * cca - na * (cca + ccb) AS HUGEINT)
        |          * CAST((na + nb) * cca - na * (cca + ccb) AS HUGEINT) AS DOUBLE)
        |      / CAST(CAST(cca + ccb AS HUGEINT)
        |          * CAST((na + nb) - (cca + ccb) AS HUGEINT) AS DOUBLE)
        |      * 1000000000.0) AS HUGEINT) ELSE 0 END AS trm
        |  FROM cc),
        |a AS (
        |  SELECT segment, na AS n_a, nb AS n_b, SUM(trm) AS s
        |  FROM t GROUP BY 1, 2, 3)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN n_a >= 1 AND n_b >= 1 THEN
        |    round((1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
        |      / CAST(n_a + n_b AS DOUBLE) * (CAST(s AS DOUBLE) / 1000000000.0), 6)
        |  END AS a2
        |FROM a ORDER BY segment""".stripMargin,
    "q_bartlett" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |pl AS (
        |  SELECT g, COUNT(*) AS nj, SUM(x) AS s1, SUM(CAST(x AS HUGEINT) * x) AS s2
        |  FROM v GROUP BY 1 HAVING COUNT(*) >= 2),
        |tv AS (
        |  SELECT nj,
        |    (CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(nj AS DOUBLE))
        |      / (CAST(nj AS DOUBLE) - 1.0) / 1000000000000.0 AS vj
        |  FROM pl),
        |tt AS (
        |  SELECT nj,
        |    CAST(round((CAST(nj AS DOUBLE) - 1.0) * vj * 1000000000.0) AS HUGEINT) AS sw,
        |    CASE WHEN vj > 0.0 THEN
        |      CAST(round((CAST(nj AS DOUBLE) - 1.0) * ln(vj) * 1000000000.0) AS HUGEINT)
        |    END AS lt,
        |    CAST(round(1000000000.0 / (CAST(nj AS DOUBLE) - 1.0)) AS BIGINT) AS inv,
        |    CASE WHEN vj <= 0.0 THEN 1 ELSE 0 END AS bad
        |  FROM tv),
        |ag AS (
        |  SELECT COUNT(*) AS k, SUM(nj) AS n, SUM(sw) AS sws, SUM(lt) AS lts,
        |    SUM(inv) AS invs, SUM(bad) AS bads
        |  FROM tt)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n > k THEN
        |    round(CAST(sws AS DOUBLE) / 1000000000.0
        |      / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)), 6) END AS pooled_var,
        |  CASE WHEN k >= 2 AND n > k AND bads = 0
        |      AND CAST(sws AS DOUBLE) / 1000000000.0
        |        / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) > 0.0 THEN
        |    round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
        |        * ln(CAST(sws AS DOUBLE) / 1000000000.0
        |          / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |      - CAST(lts AS DOUBLE) / 1000000000.0)
        |      / (1.0 + (CAST(invs AS DOUBLE) / 1000000000.0
        |          - 1.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |        / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6) END AS chi2
        |FROM ag""".stripMargin,
    "q_cmh" ->
      """WITH base AS (
        |  SELECT user_id % 4 AS s,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS e,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS o
        |  FROM events WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL),
        |cells AS (
        |  SELECT s,
        |    SUM(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS b,
        |    SUM(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS c,
        |    SUM(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS d
        |  FROM base GROUP BY 1),
        |terms AS (
        |  SELECT a + b + c + d AS n,
        |    CAST(round((CAST(a AS DOUBLE)
        |      - (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
        |        * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
        |        / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
        |          + CAST(c AS DOUBLE) + CAST(d AS DOUBLE))) * 1e9) AS HUGEINT) AS num,
        |    CAST(round((CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
        |        * (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
        |        * (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
        |        * (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))
        |        / ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
        |            + CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
        |          * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
        |            + CAST(c AS DOUBLE) + CAST(d AS DOUBLE))
        |          * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
        |            + CAST(c AS DOUBLE) + CAST(d AS DOUBLE) - 1.0)) * 1e9)
        |      AS HUGEINT) AS var,
        |    CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |      / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
        |        + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) * 1e9) AS HUGEINT) AS orn,
        |    CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
        |      / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)
        |        + CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) * 1e9) AS HUGEINT) AS ord
        |  FROM cells WHERE a + b + c + d >= 2),
        |ag AS (
        |  SELECT COUNT(*) AS ns, SUM(n) AS n, SUM(num) AS sn, SUM(var) AS sv,
        |    SUM(orn) AS so, SUM(ord) AS sd
        |  FROM terms)
        |SELECT CAST(ns AS BIGINT) AS n_strata,
        |  CAST(COALESCE(n, 0) AS BIGINT) AS n,
        |  CASE WHEN ns > 0 AND sv > 0 THEN
        |    round((abs(CAST(sn AS DOUBLE) / 1e9) - 0.5)
        |      * (abs(CAST(sn AS DOUBLE) / 1e9) - 0.5)
        |      / (CAST(sv AS DOUBLE) / 1e9), 6) END AS chi2,
        |  CASE WHEN ns > 0 AND sv > 0 THEN
        |    round((abs(CAST(sn AS DOUBLE) / 1e9) - 0.5)
        |      * (abs(CAST(sn AS DOUBLE) / 1e9) - 0.5)
        |      / (CAST(sv AS DOUBLE) / 1e9), 6) > 3.841459 END AS reject,
        |  CASE WHEN ns > 0 AND sd > 0 THEN
        |    round(CAST(so AS DOUBLE) / CAST(sd AS DOUBLE), 6) END AS or_mh
        |FROM ag""".stripMargin,
    "q_jackknife" ->
      """WITH base AS (
        |  SELECT l_returnflag AS f,
        |    CAST(('0x' || substr(md5('jk:' || CAST(l_orderkey AS VARCHAR)
        |      || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 12 AS g,
        |    CAST(round((l_extendedprice * (1.0 - l_discount)) * 1000000.0)
        |      AS HUGEINT) AS x,
        |    CAST(round(l_quantity * 1000000.0) AS HUGEINT) AS y
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_quantity IS NOT NULL),
        |pg AS (
        |  SELECT f, g, COUNT(*) AS c, SUM(x) AS xg, SUM(y) AS yg
        |  FROM base GROUP BY 1, 2),
        |tt AS (SELECT f, SUM(xg) AS sx, SUM(yg) AS sy FROM pg GROUP BY 1),
        |rr AS (
        |  SELECT pg.f, c, sx, sy,
        |    CASE WHEN sy - yg <> 0 THEN
        |      CAST(round(CAST(sx - xg AS DOUBLE) / CAST(sy - yg AS DOUBLE)
        |        * 1000000000.0) AS HUGEINT) END AS rq
        |  FROM pg JOIN tt ON pg.f = tt.f),
        |ag AS (
        |  SELECT f, SUM(c) AS n,
        |    SUM(CASE WHEN rq IS NOT NULL THEN 1 ELSE 0 END) AS ng,
        |    MAX(sx) AS tx, MAX(sy) AS ty,
        |    SUM(rq) AS sr, SUM(rq * rq) AS sr2
        |  FROM rr GROUP BY 1)
        |SELECT f AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(ng AS BIGINT) AS n_groups,
        |  CASE WHEN ty <> 0 THEN
        |    round(CAST(tx AS DOUBLE) / CAST(ty AS DOUBLE), 6) END AS ratio,
        |  CASE WHEN ng >= 2 AND ty <> 0 THEN
        |    round(sqrt((CAST(ng AS DOUBLE) - 1.0) / CAST(ng AS DOUBLE)
        |      * (CAST(sr2 AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
        |        / CAST(ng AS DOUBLE))) / 1000000000.0, 6) END AS jk_se,
        |  CASE WHEN ng >= 2 AND ty <> 0 THEN
        |    round(CAST(tx AS DOUBLE) / CAST(ty AS DOUBLE)
        |      - 1.96 * (sqrt((CAST(ng AS DOUBLE) - 1.0) / CAST(ng AS DOUBLE)
        |        * (CAST(sr2 AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
        |          / CAST(ng AS DOUBLE))) / 1000000000.0), 6) END AS ci_lo,
        |  CASE WHEN ng >= 2 AND ty <> 0 THEN
        |    round(CAST(tx AS DOUBLE) / CAST(ty AS DOUBLE)
        |      + 1.96 * (sqrt((CAST(ng AS DOUBLE) - 1.0) / CAST(ng AS DOUBLE)
        |        * (CAST(sr2 AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
        |          / CAST(ng AS DOUBLE))) / 1000000000.0), 6) END AS ci_hi
        |FROM ag ORDER BY f""".stripMargin,
    "q_tvd" ->
      """WITH rt AS (
        |  SELECT unnest(string_split(text, ' ')) AS v FROM documents
        |  WHERE source = 'src0'),
        |ct AS (
        |  SELECT unnest(string_split(text, ' ')) AS v FROM documents
        |  WHERE source = 'src1'),
        |c AS (
        |  SELECT v, SUM(a) AS ca, SUM(b) AS cb FROM (
        |    SELECT v, 1 AS a, 0 AS b FROM rt
        |    UNION ALL SELECT v, 0, 1 FROM ct)
        |  WHERE v IS NOT NULL GROUP BY 1),
        |tt AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM c),
        |a AS (
        |  SELECT na, nb, COUNT(*) AS n_categories,
        |    SUM(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) AS s
        |  FROM c CROSS JOIN tt GROUP BY 1, 2)
        |SELECT CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
        |  CAST(n_categories AS BIGINT) AS n_categories,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round(CAST(s AS DOUBLE)
        |      / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) END AS tvd
        |FROM a""".stripMargin,
    "q_jsd" ->
      """WITH rt AS (
        |  SELECT unnest(string_split(text, ' ')) AS v FROM documents
        |  WHERE source = 'src0'),
        |ct AS (
        |  SELECT unnest(string_split(text, ' ')) AS v FROM documents
        |  WHERE source = 'src1'),
        |c AS (
        |  SELECT v, SUM(a) AS ca, SUM(b) AS cb FROM (
        |    SELECT v, 1 AS a, 0 AS b FROM rt
        |    UNION ALL SELECT v, 0, 1 FROM ct)
        |  WHERE v IS NOT NULL GROUP BY 1),
        |tt AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM c),
        |e AS (
        |  SELECT na, nb,
        |    CASE WHEN ca > 0 AND nb > 0 THEN
        |      CAST(round(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |        * (ln(2 * ca * nb) - ln(ca * nb + cb * na))
        |        * 1000000000.0) AS BIGINT) ELSE 0 END AS tr,
        |    CASE WHEN cb > 0 AND na > 0 THEN
        |      CAST(round(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
        |        * (ln(2 * cb * na) - ln(ca * nb + cb * na))
        |        * 1000000000.0) AS BIGINT) ELSE 0 END AS tc
        |  FROM c CROSS JOIN tt)
        |SELECT CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
        |  CAST(COUNT(*) AS BIGINT) AS n_categories,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round(CAST(SUM(tr) + SUM(tc) AS DOUBLE) / 2000000000.0, 6) END AS jsd,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    round(CAST(SUM(tr) + SUM(tc) AS DOUBLE) / 2000000000.0 / ln(2.0), 6)
        |  END AS jsd_norm
        |FROM e GROUP BY na, nb""".stripMargin,
    "q_two_prop" ->
      """WITH t AS (
        |  SELECT CASE WHEN event_type = 'click' THEN 'a'
        |              WHEN event_type = 'view' THEN 'b' END AS g,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS s
        |  FROM events WHERE event_type IN ('click', 'view')),
        |m AS (
        |  SELECT
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN g = 'a' THEN s ELSE 0 END) AS xa,
        |    SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN g = 'b' THEN s ELSE 0 END) AS xb
        |  FROM t),
        |c AS (
        |  SELECT na, xa, nb, xb,
        |    CAST(xa AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
        |    CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
        |    CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE) AS pp
        |  FROM m)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(xa AS BIGINT) AS x_a,
        |  CAST(nb AS BIGINT) AS n_b, CAST(xb AS BIGINT) AS x_b,
        |  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |  CASE WHEN na >= 1 AND nb >= 1
        |        AND pp * (1.0 - pp) * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)) > 0.0
        |    THEN round((pa - pb)
        |      / sqrt(pp * (1.0 - pp) * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))), 6)
        |  END AS z
        |FROM c""".stripMargin,
    "q_bootstrap" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS g, o_orderkey AS k,
        |    CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS x
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |pt AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx FROM base GROUP BY 1),
        |ex AS (SELECT g, k, x, t.r FROM base, range(0, 32) t(r)),
        |uu AS (
        |  SELECT g, r, x,
        |    CAST(CAST(('0x' || substr(md5('boot:' || CAST(k AS VARCHAR)
        |      || ':' || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS u
        |  FROM ex),
        |cc AS (
        |  SELECT g, r, x,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         ELSE 8 END AS c
        |  FROM uu),
        |pr AS (SELECT g, r, SUM(c) AS sc, SUM(c * x) AS cx FROM cc GROUP BY 1, 2),
        |pm AS (
        |  SELECT g, r,
        |    CASE WHEN sc > 0 THEN
        |      CAST(round(CAST(cx AS DOUBLE) / CAST(sc AS DOUBLE) * 1000.0) AS BIGINT)
        |    END AS m
        |  FROM pr),
        |bt AS (
        |  SELECT g, SUM(CASE WHEN m IS NOT NULL THEN 1 ELSE 0 END) AS nr,
        |    SUM(m) AS sm, SUM(CAST(m AS HUGEINT) * m) AS sm2
        |  FROM pm GROUP BY 1)
        |SELECT pt.g AS o_orderpriority, CAST(n AS BIGINT) AS n,
        |  CAST(nr AS BIGINT) AS n_replicates,
        |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean,
        |  CASE WHEN nr >= 2 THEN
        |    round(sqrt((CAST(nr AS DOUBLE) * CAST(sm2 AS DOUBLE)
        |        - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
        |      / (CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1.0))) / 1000000000.0, 6)
        |  END AS boot_se,
        |  CASE WHEN nr >= 2 THEN
        |    round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |      - 1.96 * (sqrt((CAST(nr AS DOUBLE) * CAST(sm2 AS DOUBLE)
        |          - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
        |        / (CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1.0))) / 1000000000.0), 6)
        |  END AS ci_lo,
        |  CASE WHEN nr >= 2 THEN
        |    round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |      + 1.96 * (sqrt((CAST(nr AS DOUBLE) * CAST(sm2 AS DOUBLE)
        |          - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
        |        / (CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1.0))) / 1000000000.0), 6)
        |  END AS ci_hi
        |FROM pt JOIN bt ON pt.g = bt.g ORDER BY 1""".stripMargin,
    "q_chi2_cells" ->
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, COUNT(*) AS c
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |tot AS (SELECT SUM(c) AS n FROM cells),
        |w AS (
        |  SELECT a, b, c,
        |    SUM(c) OVER (PARTITION BY a) AS ra,
        |    SUM(c) OVER (PARTITION BY b) AS cb
        |  FROM cells)
        |SELECT a, b, CAST(c AS BIGINT) AS n_obs,
        |  round(CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected,
        |  CASE WHEN CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)
        |          * (1.0 - CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))
        |          * (1.0 - CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) > 0.0
        |    THEN round((CAST(c AS DOUBLE)
        |        - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt(CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)
        |          * (1.0 - CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))
        |          * (1.0 - CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))), 6)
        |  END AS resid
        |FROM w CROSS JOIN tot ORDER BY a, b""".stripMargin,
    "q_weighted_median" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(l_quantity * 1000000.0) AS BIGINT) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND CAST(round(l_quantity * 1000000.0) AS BIGINT) > 0),
        |r AS (
        |  SELECT g, x, w,
        |    SUM(w) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY g) AS tw
        |  FROM v),
        |qs AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4)) AS t(pn, pd)),
        |j AS (
        |  SELECT g, pn, pd,
        |    MAX(CASE WHEN pd * (cw - w) < pn * tw AND pn * tw <= pd * cw
        |             THEN x END) AS q
        |  FROM r CROSS JOIN qs GROUP BY 1, 2, 3)
        |SELECT g AS l_returnflag, pn AS p_num, pd AS p_den,
        |  round(CAST(q AS DOUBLE) / 1000000.0, 6) AS wq
        |FROM j ORDER BY g, pn, pd""".stripMargin,
    "q_trimmed_mean" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 1000000.0) AS BIGINT) AS x
        |  FROM lineitem),
        |r AS (
        |  SELECT g, x,
        |    row_number() OVER (PARTITION BY g ORDER BY x) AS i,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM v),
        |a AS (
        |  SELECT g, n, (n * 1) // 20 AS k,
        |    SUM(CASE WHEN i > (n * 1) // 20 AND i <= n - (n * 1) // 20
        |             THEN 1 ELSE 0 END) AS n_kept,
        |    SUM(CASE WHEN i > (n * 1) // 20 AND i <= n - (n * 1) // 20
        |             THEN x END) AS s
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(k AS BIGINT) AS n_trimmed_each, CAST(n_kept AS BIGINT) AS n_kept,
        |  CASE WHEN n_kept > 0 THEN
        |    round(CAST(s AS DOUBLE) / CAST(n_kept AS DOUBLE) / 1000000.0, 6)
        |  END AS trimmed_mean
        |FROM a ORDER BY g""".stripMargin,
    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, COUNT(*) AS c
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |tot AS (SELECT SUM(c) AS n FROM cells),
        |w AS (
        |  SELECT a, b, c,
        |    SUM(c) OVER (PARTITION BY a) AS ra,
        |    SUM(c) OVER (PARTITION BY b) AS cb,
        |    row_number() OVER (PARTITION BY a ORDER BY b) = 1 AS fa,
        |    row_number() OVER (PARTITION BY b ORDER BY a) = 1 AS fb
        |  FROM cells),
        |e AS (
        |  SELECT n,
        |    CAST(round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |      * (ln(n * c) - ln(ra * cb)) * 1000000000.0) AS BIGINT) AS t,
        |    CASE WHEN fa THEN
        |      CAST(round(CAST(ra AS DOUBLE) * ln(ra) * 1000000000.0) AS BIGINT)
        |    ELSE 0 END AS ea,
        |    CASE WHEN fb THEN
        |      CAST(round(CAST(cb AS DOUBLE) * ln(cb) * 1000000000.0) AS BIGINT)
        |    ELSE 0 END AS eb
        |  FROM w CROSS JOIN tot),
        |ag AS (SELECT n, SUM(t) AS mi, SUM(ea) AS sa, SUM(eb) AS sb FROM e GROUP BY 1)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(ln(CAST(n AS DOUBLE))
        |    - CAST(sa AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE), 6) AS h_a,
        |  round(ln(CAST(n AS DOUBLE))
        |    - CAST(sb AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE), 6) AS h_b,
        |  round(CAST(mi AS DOUBLE) / 1000000000.0, 6) AS mi,
        |  CASE WHEN round(ln(CAST(n AS DOUBLE)) - CAST(sa AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE), 6) > 0.0
        |        AND round(ln(CAST(n AS DOUBLE)) - CAST(sb AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE), 6) > 0.0
        |    THEN round(CAST(mi AS DOUBLE) / 1000000000.0
        |      / sqrt((ln(CAST(n AS DOUBLE)) - CAST(sa AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE))
        |           * (ln(CAST(n AS DOUBLE)) - CAST(sb AS DOUBLE) / 1000000000.0 / CAST(n AS DOUBLE))), 6)
        |  END AS nmi
        |FROM ag""".stripMargin,
    "q_anova" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |pg AS (
        |  SELECT g, COUNT(*) AS ng, SUM(x) AS sg, SUM(x * x) AS ssg
        |  FROM v GROUP BY 1),
        |gr AS (SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s FROM pg),
        |tm AS (
        |  SELECT pg.ng, k, n,
        |    CAST(round(CAST(ng AS DOUBLE)
        |      * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) / 1000000.0
        |         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
        |      * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) / 1000000.0
        |         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
        |      * 1000000000.0) AS BIGINT) AS tb,
        |    CAST(round(CAST(ng * ssg - sg * sg AS DOUBLE)
        |      / CAST(ng AS DOUBLE) / 1000000000000.0 * 1000000000.0) AS BIGINT) AS tw
        |  FROM pg CROSS JOIN gr),
        |a AS (
        |  SELECT k, n, SUM(tb) AS ssb, SUM(tw) AS ssw FROM tm GROUP BY 1, 2)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  round(CAST(ssb AS DOUBLE) / 1000000000.0, 6) AS ss_between,
        |  round(CAST(ssw AS DOUBLE) / 1000000000.0, 6) AS ss_within,
        |  CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
        |    round((CAST(ssb AS DOUBLE) / 1000000000.0 / (CAST(k AS DOUBLE) - 1.0))
        |        / (CAST(ssw AS DOUBLE) / 1000000000.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |  END AS f,
        |  CASE WHEN ssb + ssw > 0 THEN
        |    round(CAST(ssb AS DOUBLE) / 1000000000.0
        |      / (CAST(ssb AS DOUBLE) / 1000000000.0 + CAST(ssw AS DOUBLE) / 1000000000.0), 6)
        |  END AS eta_sq
        |FROM a""".stripMargin,
    "q_fdr" ->
      """WITH tg AS (
        |  SELECT user_id % 8 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib,
        |    value AS v
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT segment, v, SUM(ia) AS ca, SUM(ib) AS cb FROM tg GROUP BY 1, 2),
        |cc AS (
        |  SELECT segment,
        |    SUM(ca) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        |    SUM(cb) OVER (PARTITION BY segment ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        |    SUM(ca) OVER (PARTITION BY segment) AS na,
        |    SUM(cb) OVER (PARTITION BY segment) AS nb
        |  FROM c),
        |kk AS (
        |  SELECT segment, na AS n_a, nb AS n_b,
        |    MAX(abs(cca * nb - ccb * na)) AS d_num
        |  FROM cc GROUP BY 1, 2, 3),
        |pv AS (
        |  SELECT segment, n_a, n_b, d_num,
        |    round(CAST(d_num AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks,
        |    round(least(1.0, 2.0 * exp(-2.0
        |      * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
        |         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
        |      * (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))))), 6) AS p
        |  FROM kk),
        |r AS (
        |  SELECT pv.*, row_number() OVER (ORDER BY p ASC NULLS LAST, segment) AS i,
        |    COUNT(p) OVER () AS m
        |  FROM pv),
        |s AS (
        |  SELECT r.*,
        |    round(least(1.0, MIN(CAST(m AS DOUBLE) * p / CAST(i AS DOUBLE))
        |      OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS bh_q
        |  FROM r)
        |SELECT segment, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(d_num AS BIGINT) AS d_num, ks, p,
        |  CASE WHEN p IS NOT NULL THEN CAST(i AS BIGINT) END AS bh_rank,
        |  CASE WHEN p IS NOT NULL THEN bh_q END AS bh_q,
        |  CASE WHEN p IS NOT NULL THEN (bh_q <= 0.1) END AS bh_reject
        |FROM s ORDER BY segment""".stripMargin,
    "q_inequality" ->
      """WITH pe AS (
        |  SELECT l_returnflag AS g, l_suppkey AS e,
        |    SUM(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS x
        |  FROM lineitem GROUP BY 1, 2
        |  HAVING SUM(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) > 0),
        |tot AS (
        |  SELECT g, SUM(x) AS t, COUNT(*) AS n FROM pe GROUP BY 1),
        |terms AS (
        |  SELECT pe.g, tot.t, tot.n,
        |    CAST(pe.x AS DOUBLE) * CAST(tot.n AS DOUBLE) / CAST(tot.t AS DOUBLE) AS r
        |  FROM pe JOIN tot ON pe.g = tot.g),
        |s AS (
        |  SELECT g, MAX(n) AS n_entities, MAX(t) AS t,
        |    SUM(CAST(round(r * ln(r) * 1000000000.0) AS BIGINT)) AS st,
        |    SUM(CAST(round(-ln(r) * 1000000000.0) AS BIGINT)) AS sl,
        |    SUM(CAST(round(ln(r) * 1000000000.0) AS BIGINT)) AS sa
        |  FROM terms GROUP BY 1)
        |SELECT g AS l_returnflag, CAST(n_entities AS BIGINT) AS n_entities,
        |  round(CAST(t AS DOUBLE) / 1000000.0, 6) AS total,
        |  round(CAST(st AS DOUBLE) / CAST(n_entities AS DOUBLE) / 1000000000.0, 6) AS theil_t,
        |  round(CAST(sl AS DOUBLE) / CAST(n_entities AS DOUBLE) / 1000000000.0, 6) AS theil_l,
        |  round(1.0 - exp(CAST(sa AS DOUBLE) / CAST(n_entities AS DOUBLE) / 1000000000.0), 6) AS atkinson
        |FROM s ORDER BY g""".stripMargin,
    "q_lorenz" ->
      """WITH pe AS (
        |  SELECT l_returnflag AS g, l_suppkey AS e,
        |    SUM(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS x
        |  FROM lineitem GROUP BY 1, 2),
        |rk AS (
        |  SELECT g, e, x,
        |    row_number() OVER (PARTITION BY g ORDER BY x, e) AS i,
        |    SUM(x) OVER (PARTITION BY g ORDER BY x, e ROWS UNBOUNDED PRECEDING) AS c,
        |    COUNT(*) OVER (PARTITION BY g) AS n,
        |    SUM(x) OVER (PARTITION BY g) AS t
        |  FROM pe)
        |SELECT g AS l_returnflag, (10 * i) // n AS decile, i AS n_cum,
        |  round(CAST(c AS DOUBLE) / CAST(t AS DOUBLE), 6) AS cum_share
        |FROM rk WHERE (10 * i) // n > (10 * (i - 1)) // n
        |ORDER BY g, decile""".stripMargin,
    "q_concentration" ->
      """WITH pe AS (
        |  SELECT l_returnflag AS g, l_suppkey AS e,
        |    SUM(CAST(round(l_extendedprice * 1000000.0) AS BIGINT)) AS r
        |  FROM lineitem GROUP BY 1, 2),
        |rk AS (
        |  SELECT pe.*, row_number() OVER (PARTITION BY g ORDER BY r, e) AS i
        |  FROM pe),
        |a AS (
        |  SELECT g, COUNT(*) AS n_entities,
        |    SUM(r) AS t, SUM(r * r) AS t2, MAX(r) AS mx, SUM(i * r) AS ir
        |  FROM rk GROUP BY 1)
        |SELECT g AS l_returnflag, n_entities,
        |  round(CAST(t AS DOUBLE) / 1000000.0, 6) AS total,
        |  round(CAST(t2 AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS hhi,
        |  round(CAST(mx AS DOUBLE) / CAST(t AS DOUBLE), 6) AS top_share,
        |  round(CAST(2 * ir - (n_entities + 1) * t AS DOUBLE)
        |    / (CAST(n_entities AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS gini
        |FROM a ORDER BY g""".stripMargin,
    "q_quantiles" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 1000000.0) AS BIGINT) AS x
        |  FROM lineitem),
        |r AS (
        |  SELECT g, x,
        |    row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i,
        |    COUNT(*) OVER (PARTITION BY g) - 1 AS m
        |  FROM v),
        |qs AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4), (19, 20)) AS t(pn, pd)),
        |j AS (
        |  SELECT g, pn, pd,
        |    SUM(CASE
        |      WHEN i = (m * pn) // pd
        |        THEN (pd - (m * pn - ((m * pn) // pd) * pd)) * x
        |      WHEN i = (m * pn) // pd + 1
        |        THEN (m * pn - ((m * pn) // pd) * pd) * x
        |      ELSE 0 END) AS c
        |  FROM r CROSS JOIN qs GROUP BY 1, 2, 3)
        |SELECT g AS l_returnflag, pn AS p_num, pd AS p_den,
        |  round(CAST(c AS DOUBLE) / CAST(pd AS DOUBLE) / 1000000.0, 6) AS q
        |FROM j ORDER BY g, pn, pd""".stripMargin,
    "q_mannwhitney" ->
      """WITH tg AS (
        |  SELECT user_id % 4 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 'a'
        |         WHEN event_type = 'click' THEN 'b' END AS g,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |bv AS (
        |  SELECT segment, x,
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na_v,
        |    COUNT(*) AS n_v
        |  FROM tg GROUP BY 1, 2),
        |rk AS (
        |  SELECT segment, na_v, n_v,
        |    COALESCE(SUM(n_v) OVER (PARTITION BY segment ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM bv),
        |a AS (
        |  SELECT segment, SUM(na_v) AS na, SUM(n_v - na_v) AS nb,
        |    SUM(na_v * (2 * cb + n_v + 1)) AS ra2,
        |    SUM(n_v * n_v * n_v - n_v) AS ties
        |  FROM rk GROUP BY 1),
        |f AS (
        |  SELECT segment, na, nb,
        |    ra2 - na * (na + 1) AS u2, ties,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
        |    CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS nd
        |  FROM a),
        |v AS (
        |  SELECT segment, na, nb, u2, ties, nad, nbd, nd,
        |    nad * nbd / 12.0 * ((nd + 1.0) - CAST(ties AS DOUBLE) / (nd * (nd - 1.0))) AS varu
        |  FROM f)
        |SELECT segment, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(u2 AS BIGINT) AS u_a_twice, CAST(ties AS BIGINT) AS tie_cubes,
        |  CASE WHEN na >= 1 AND nb >= 1 AND varu > 0.0
        |    THEN round((CAST(u2 AS DOUBLE) / 2.0 - nad * nbd / 2.0) / sqrt(varu), 6)
        |  END AS z
        |FROM v ORDER BY segment""".stripMargin,
    "q_cliffs" ->
      """WITH tg AS (
        |  SELECT user_id % 4 AS segment,
        |    CASE WHEN event_type = 'purchase' THEN 'a'
        |         WHEN event_type = 'click' THEN 'b' END AS g,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |bv AS (
        |  SELECT segment, x,
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS a_v,
        |    SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS b_v
        |  FROM tg GROUP BY 1, 2),
        |rk AS (
        |  SELECT segment, a_v, b_v,
        |    COALESCE(SUM(a_v) OVER (PARTITION BY segment ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ca,
        |    COALESCE(SUM(b_v) OVER (PARTITION BY segment ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM bv),
        |a AS (
        |  SELECT segment,
        |    CAST(SUM(a_v) AS HUGEINT) AS na, CAST(SUM(b_v) AS HUGEINT) AS nb,
        |    SUM(CAST(a_v AS HUGEINT) * cb) AS gts,
        |    SUM(CAST(b_v AS HUGEINT) * ca) AS lts
        |  FROM rk GROUP BY 1)
        |SELECT segment,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(gts AS BIGINT) AS gt_pairs, CAST(lts AS BIGINT) AS lt_pairs,
        |  CASE WHEN na > 0 AND nb > 0
        |    THEN round(CAST(gts - lts AS DOUBLE) / CAST(na * nb AS DOUBLE), 6)
        |  END AS delta
        |FROM a ORDER BY segment""".stripMargin,
    "q_ridge" ->
      """WITH pts AS (
        |  SELECT event_type,
        |    CAST(round((floor(epoch_us(ts) / 86400000000) - 19723) * 1e6) AS HUGEINT) AS xq,
        |    CAST(round(value * 1e6) AS HUGEINT) AS yq
        |  FROM events),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(xq) AS sx, SUM(yq) AS sy,
        |    SUM(xq * xq) AS sxx, SUM(xq * yq) AS sxy
        |  FROM pts GROUP BY 1),
        |d AS (
        |  SELECT event_type, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS var_x,
        |    CAST(n * sxx - sx * sx + n * n * 5000000000000 AS DOUBLE) AS denom,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM m),
        |f AS (
        |  SELECT event_type, n, cov_n, var_x, denom, sxd, syd, nd,
        |    CASE WHEN denom <> 0 THEN cov_n / denom END AS sr
        |  FROM d)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN denom <> 0 THEN round(sr, 6) END AS slope_ridge,
        |  CASE WHEN var_x <> 0 THEN round(cov_n / var_x, 6) END AS slope_ols,
        |  CASE WHEN denom <> 0 THEN round((syd - sr * sxd) / nd / 1000000.0, 6) END
        |    AS intercept
        |FROM f ORDER BY event_type""".stripMargin,
    "q_vif" ->
      """WITH v AS (
        |  SELECT CAST(round(l_quantity * 1000000.0) AS HUGEINT) AS a,
        |    CAST(round(l_extendedprice * 1000000.0) AS HUGEINT) AS b,
        |    CAST(round(l_discount * 1000000.0) AS HUGEINT) AS c
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc,
        |    SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(c * c) AS scc,
        |    SUM(a * b) AS sab, SUM(a * c) AS sac, SUM(b * c) AS sbc
        |  FROM v),
        |r AS (
        |  SELECT n,
        |    CASE WHEN CAST(n * saa - sa * sa AS DOUBLE) > 0
        |          AND CAST(n * sbb - sb * sb AS DOUBLE) > 0
        |      THEN CAST(n * sab - sa * sb AS DOUBLE)
        |        / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * sbb - sb * sb AS DOUBLE))
        |    END AS r12,
        |    CASE WHEN CAST(n * saa - sa * sa AS DOUBLE) > 0
        |          AND CAST(n * scc - sc * sc AS DOUBLE) > 0
        |      THEN CAST(n * sac - sa * sc AS DOUBLE)
        |        / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * scc - sc * sc AS DOUBLE))
        |    END AS r13,
        |    CASE WHEN CAST(n * sbb - sb * sb AS DOUBLE) > 0
        |          AND CAST(n * scc - sc * sc AS DOUBLE) > 0
        |      THEN CAST(n * sbc - sb * sc AS DOUBLE)
        |        / sqrt(CAST(n * sbb - sb * sb AS DOUBLE) * CAST(n * scc - sc * sc AS DOUBLE))
        |    END AS r23
        |  FROM m),
        |r2 AS (
        |  SELECT n, r12, r13, r23,
        |    CASE WHEN r12 IS NOT NULL AND r13 IS NOT NULL AND r23 IS NOT NULL
        |          AND abs(r23) < 1.0
        |      THEN (r12 * r12 + r13 * r13 - 2.0 * r12 * r13 * r23) / (1.0 - r23 * r23)
        |    END AS r2_1,
        |    CASE WHEN r12 IS NOT NULL AND r23 IS NOT NULL AND r13 IS NOT NULL
        |          AND abs(r13) < 1.0
        |      THEN (r12 * r12 + r23 * r23 - 2.0 * r12 * r23 * r13) / (1.0 - r13 * r13)
        |    END AS r2_2,
        |    CASE WHEN r13 IS NOT NULL AND r23 IS NOT NULL AND r12 IS NOT NULL
        |          AND abs(r12) < 1.0
        |      THEN (r13 * r13 + r23 * r23 - 2.0 * r13 * r23 * r12) / (1.0 - r12 * r12)
        |    END AS r2_3
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(r12, 6) AS r12, round(r13, 6) AS r13, round(r23, 6) AS r23,
        |  CASE WHEN r2_1 IS NOT NULL AND r2_1 < 1.0
        |    THEN round(1.0 / (1.0 - r2_1), 6) END AS vif_1,
        |  CASE WHEN r2_2 IS NOT NULL AND r2_2 < 1.0
        |    THEN round(1.0 / (1.0 - r2_2), 6) END AS vif_2,
        |  CASE WHEN r2_3 IS NOT NULL AND r2_3 < 1.0
        |    THEN round(1.0 / (1.0 - r2_3), 6) END AS vif_3
        |FROM r2""".stripMargin,
    "q_spearman" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(round(l_quantity * 1000000.0) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 1000000.0) AS BIGINT) AS y
        |  FROM lineitem),
        |r AS (
        |  SELECT g,
        |    rank() OVER (PARTITION BY g ORDER BY x)
        |      + (COUNT(*) OVER (PARTITION BY g) + 1)
        |      - rank() OVER (PARTITION BY g ORDER BY x DESC) AS rx,
        |    rank() OVER (PARTITION BY g ORDER BY y)
        |      + (COUNT(*) OVER (PARTITION BY g) + 1)
        |      - rank() OVER (PARTITION BY g ORDER BY y DESC) AS ry
        |  FROM v),
        |a AS (
        |  SELECT g, COUNT(*) AS n,
        |    SUM(rx) AS sx, SUM(ry) AS sy,
        |    SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT g AS l_returnflag, n,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
        |        AND CAST(n * syy - sy * sy AS DOUBLE) > 0.0
        |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |           * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS rho
        |FROM a ORDER BY g""".stripMargin,
    "q_chi2" ->
      """WITH cells AS (
        |  SELECT lang AS a, source AS b, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |tot AS (
        |  SELECT SUM(n) AS nn, COUNT(DISTINCT a) AS da, COUNT(DISTINCT b) AS db
        |  FROM cells),
        |m AS (
        |  SELECT CAST(n AS DOUBLE) AS o,
        |    CAST(SUM(n) OVER (PARTITION BY a) AS DOUBLE)
        |      * CAST(SUM(n) OVER (PARTITION BY b) AS DOUBLE)
        |      / CAST((SELECT nn FROM tot) AS DOUBLE) AS e
        |  FROM cells),
        |t2 AS (
        |  SELECT CAST(round((o - e) * (o - e) / e * 1e9) AS BIGINT) AS term FROM m)
        |SELECT (SELECT CAST(nn AS BIGINT) FROM tot) AS n,
        |  (SELECT CAST((da - 1) * (db - 1) AS BIGINT) FROM tot) AS dof,
        |  round(CAST(SUM(term) AS DOUBLE) / 1e9, 6) AS chi2,
        |  CASE WHEN (SELECT least(da, db) FROM tot) >= 2 THEN
        |    round(sqrt(CAST(SUM(term) AS DOUBLE) / 1e9
        |      / (CAST((SELECT nn FROM tot) AS DOUBLE)
        |        * CAST((SELECT least(da, db) - 1 FROM tot) AS DOUBLE))), 6)
        |  END AS cramers_v
        |FROM t2
        |HAVING COUNT(*) > 0
        |""".stripMargin,
    "q_welch" ->
      """WITH tagged AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
        |    CAST(round(value * 1e6) AS HUGEINT) AS x
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s, SUM(x * x) AS ss
        |  FROM tagged GROUP BY 1),
        |w AS (
        |  SELECT
        |    (SELECT n FROM m WHERE g = 'a') AS na,
        |    (SELECT s FROM m WHERE g = 'a') AS sa,
        |    (SELECT ss FROM m WHERE g = 'a') AS ssa,
        |    (SELECT n FROM m WHERE g = 'b') AS nb,
        |    (SELECT s FROM m WHERE g = 'b') AS sb,
        |    (SELECT ss FROM m WHERE g = 'b') AS ssb),
        |c AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mb,
        |    CAST(na * ssa - sa * sa AS DOUBLE)
        |      / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1)) / 1e12
        |      / CAST(na AS DOUBLE) AS va,
        |    CAST(nb * ssb - sb * sb AS DOUBLE)
        |      / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1)) / 1e12
        |      / CAST(nb AS DOUBLE) AS vb
        |  FROM w)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  CASE WHEN na >= 2 AND nb >= 2
        |    THEN round((ma - mb) / sqrt(va + vb), 6) END AS t,
        |  CASE WHEN na >= 2 AND nb >= 2
        |    THEN round((va + vb) * (va + vb)
        |      / (va * va / (CAST(na AS DOUBLE) - 1)
        |        + vb * vb / (CAST(nb AS DOUBLE) - 1)), 6) END AS df
        |FROM c""".stripMargin,
    "q_games_howell" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |pg AS (
        |  SELECT g, CAST(COUNT(*) AS HUGEINT) AS ng, SUM(x) AS sg, SUM(x * x) AS ssg
        |  FROM v GROUP BY 1),
        |p AS (
        |  SELECT a.g AS ga, a.ng AS na, a.sg AS sa, a.ssg AS ssa,
        |    b.g AS gb, b.ng AS nb2, b.sg AS sb, b.ssg AS ssb
        |  FROM pg a JOIN pg b ON a.g < b.g),
        |c AS (
        |  SELECT ga, gb, na, nb2,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6
        |      - CAST(sb AS DOUBLE) / CAST(nb2 AS DOUBLE) / 1e6 AS diff,
        |    CAST(na * ssa - sa * sa AS DOUBLE)
        |      / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) / 1e12
        |      / CAST(na AS DOUBLE) AS va,
        |    CAST(nb2 * ssb - sb * sb AS DOUBLE)
        |      / (CAST(nb2 AS DOUBLE) * (CAST(nb2 AS DOUBLE) - 1.0)) / 1e12
        |      / CAST(nb2 AS DOUBLE) AS vb
        |  FROM p),
        |e AS (SELECT *, va + vb AS se2 FROM c)
        |SELECT ga AS group_a, gb AS group_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb2 AS BIGINT) AS n_b,
        |  round(diff, 6) AS mean_diff,
        |  CASE WHEN na >= 2 AND nb2 >= 2 AND se2 > 0
        |    THEN round(abs(diff) / sqrt(se2 / 2.0), 6) END AS q,
        |  CASE WHEN na >= 2 AND nb2 >= 2 AND se2 > 0
        |    THEN round((se2 * se2)
        |      / (va * va / (CAST(na AS DOUBLE) - 1.0)
        |        + vb * vb / (CAST(nb2 AS DOUBLE) - 1.0)), 6) END AS df
        |FROM e ORDER BY ga, gb""".stripMargin,
    "q_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |m AS (
        |  SELECT
        |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nb
        |  FROM u WHERE user_id % 2 IN (0, 1)),
        |c AS (
        |  SELECT na, nb,
        |    CAST(na + nb AS DOUBLE) * 1.0 / 2.0 AS ea,
        |    CAST(na + nb AS DOUBLE)
        |      - CAST(na + nb AS DOUBLE) * 1.0 / 2.0 AS eb
        |  FROM m),
        |e AS (
        |  SELECT na, nb, ea,
        |    (CAST(na AS DOUBLE) - ea) * (CAST(na AS DOUBLE) - ea) / ea
        |      + (CAST(nb AS DOUBLE) - eb) * (CAST(nb AS DOUBLE) - eb) / eb AS chi2
        |  FROM c)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(ea, 6) AS expected_a,
        |  CASE WHEN na + nb > 0 THEN round(chi2, 6) END AS chi2,
        |  CASE WHEN na + nb > 0 THEN round(chi2, 6) > 10.83 END AS srm_suspect
        |FROM e""".stripMargin,
    "q_mde" ->
      """WITH tagged AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
        |    CAST(round(value * 1e6) AS HUGEINT) AS x
        |  FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s, SUM(x * x) AS ss
        |  FROM tagged GROUP BY 1),
        |w AS (
        |  SELECT
        |    (SELECT n FROM m WHERE g = 'a') AS na,
        |    (SELECT s FROM m WHERE g = 'a') AS sa,
        |    (SELECT ss FROM m WHERE g = 'a') AS ssa,
        |    (SELECT n FROM m WHERE g = 'b') AS nb,
        |    (SELECT s FROM m WHERE g = 'b') AS sb,
        |    (SELECT ss FROM m WHERE g = 'b') AS ssb),
        |c AS (
        |  SELECT na, nb,
        |    sqrt(CAST(na * ssa - sa * sa AS DOUBLE)
        |        / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) / 1e12
        |        / CAST(na AS DOUBLE)
        |      + CAST(nb * ssb - sb * sb AS DOUBLE)
        |        / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) / 1e12
        |        / CAST(nb AS DOUBLE)) AS se,
        |    CAST(sa + sb AS DOUBLE)
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) / 1e6 AS pm
        |  FROM w)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CASE WHEN na >= 2 AND nb >= 2 THEN round(se, 6) END AS se,
        |  CASE WHEN na >= 2 AND nb >= 2
        |    THEN round((1.959964 + 0.841621) * se, 6) END AS mde_abs,
        |  CASE WHEN na >= 2 AND nb >= 2 AND pm <> 0.0
        |    THEN round((1.959964 + 0.841621) * se / pm, 6) END AS mde_rel
        |FROM c""".stripMargin,
    "q_tukey" ->
      """WITH v AS (
        |  SELECT event_type AS g, CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |pg AS (SELECT g, COUNT(*) AS ng, SUM(x) AS sg, SUM(x * x) AS ssg FROM v GROUP BY 1),
        |t AS (
        |  SELECT g, ng, sg,
        |    CAST(round(CAST(ng * ssg - sg * sg AS DOUBLE)
        |      / CAST(ng AS DOUBLE) / 1e12 * 1e9) AS BIGINT) AS tw
        |  FROM pg),
        |gr AS (SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(tw) AS ssw FROM t),
        |p AS (
        |  SELECT a.g AS ga, a.ng AS na, a.sg AS sa,
        |    b.g AS gb, b.ng AS nb2, b.sg AS sb
        |  FROM t a JOIN t b ON a.g < b.g),
        |e AS (
        |  SELECT ga, gb, na, nb2,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6
        |      - CAST(sb AS DOUBLE) / CAST(nb2 AS DOUBLE) / 1e6 AS diff,
        |    CAST(ssw AS DOUBLE) / 1e9 / CAST(n - k AS DOUBLE) AS msw,
        |    n, k, ssw
        |  FROM p CROSS JOIN gr)
        |SELECT ga AS group_a, gb AS group_b,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb2 AS BIGINT) AS n_b,
        |  round(diff, 6) AS mean_diff,
        |  CASE WHEN n > k AND ssw > 0 THEN
        |    round(abs(diff) / sqrt(msw / 2.0
        |      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb2 AS DOUBLE))), 6)
        |  END AS q
        |FROM e ORDER BY ga, gb""".stripMargin,
    "q_did" ->
      """WITH b AS (
        |  SELECT (user_id % 2 = 0) AS t,
        |    (ts >= TIMESTAMP '2024-01-16 00:00:00') AS p,
        |    CAST(round(value * 1000000.0) AS HUGEINT) AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        |    SUM(CASE WHEN t AND NOT p THEN x END) AS s1,
        |    SUM(CASE WHEN t AND NOT p THEN x * x END) AS ss1,
        |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
        |    SUM(CASE WHEN t AND p THEN x END) AS s2,
        |    SUM(CASE WHEN t AND p THEN x * x END) AS ss2,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS HUGEINT) AS n3,
        |    SUM(CASE WHEN NOT t AND NOT p THEN x END) AS s3,
        |    SUM(CASE WHEN NOT t AND NOT p THEN x * x END) AS ss3,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS HUGEINT) AS n4,
        |    SUM(CASE WHEN NOT t AND p THEN x END) AS s4,
        |    SUM(CASE WHEN NOT t AND p THEN x * x END) AS ss4
        |  FROM b),
        |c AS (
        |  SELECT n1, n2, n3, n4,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1e6 AS m1,
        |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 1e6 AS m2,
        |    CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE) / 1e6 AS m3,
        |    CAST(s4 AS DOUBLE) / CAST(n4 AS DOUBLE) / 1e6 AS m4,
        |    CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
        |      / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) / 1e12
        |      / CAST(n1 AS DOUBLE) AS v1,
        |    CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
        |      / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)) / 1e12
        |      / CAST(n2 AS DOUBLE) AS v2,
        |    CAST(n3 * ss3 - s3 * s3 AS DOUBLE)
        |      / (CAST(n3 AS DOUBLE) * (CAST(n3 AS DOUBLE) - 1.0)) / 1e12
        |      / CAST(n3 AS DOUBLE) AS v3,
        |    CAST(n4 * ss4 - s4 * s4 AS DOUBLE)
        |      / (CAST(n4 AS DOUBLE) * (CAST(n4 AS DOUBLE) - 1.0)) / 1e12
        |      / CAST(n4 AS DOUBLE) AS v4
        |  FROM m),
        |e AS (
        |  SELECT *, (m2 - m1) - (m4 - m3) AS att, v1 + v2 + v3 + v4 AS se2,
        |    (n1 >= 2 AND n2 >= 2 AND n3 >= 2 AND n4 >= 2) AS ok
        |  FROM c)
        |SELECT CAST(n1 AS BIGINT) AS n_t_pre, CAST(n2 AS BIGINT) AS n_t_post,
        |  CAST(n3 AS BIGINT) AS n_c_pre, CAST(n4 AS BIGINT) AS n_c_post,
        |  round(m1, 6) AS mean_t_pre, round(m2, 6) AS mean_t_post,
        |  round(m3, 6) AS mean_c_pre, round(m4, 6) AS mean_c_post,
        |  round(att, 6) AS att,
        |  CASE WHEN ok THEN round(sqrt(se2), 6) END AS se,
        |  CASE WHEN ok AND se2 > 0 THEN round(att / sqrt(se2), 6) END AS z
        |FROM e""".stripMargin,
    "q_rdd" ->
      """WITH b AS (
        |  SELECT l_quantity >= 25.5 AS hi,
        |    CAST(round((l_quantity - 25.5) * 1000000.0) AS HUGEINT) AS x,
        |    CAST(round(l_discount * 1000000.0) AS HUGEINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_quantity >= 10.5 AND l_quantity <= 40.5),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS HUGEINT) AS nl,
        |    SUM(CASE WHEN NOT hi THEN x ELSE 0 END) AS sxl,
        |    SUM(CASE WHEN NOT hi THEN y ELSE 0 END) AS syl,
        |    SUM(CASE WHEN NOT hi THEN x * x ELSE 0 END) AS sxxl,
        |    SUM(CASE WHEN NOT hi THEN x * y ELSE 0 END) AS sxyl,
        |    SUM(CASE WHEN NOT hi THEN y * y ELSE 0 END) AS syyl,
        |    CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS HUGEINT) AS nr,
        |    SUM(CASE WHEN hi THEN x ELSE 0 END) AS sxr,
        |    SUM(CASE WHEN hi THEN y ELSE 0 END) AS syr,
        |    SUM(CASE WHEN hi THEN x * x ELSE 0 END) AS sxxr,
        |    SUM(CASE WHEN hi THEN x * y ELSE 0 END) AS sxyr,
        |    SUM(CASE WHEN hi THEN y * y ELSE 0 END) AS syyr
        |  FROM b),
        |f AS (
        |  SELECT nl, nr,
        |    CAST(nl * sxxl - sxl * sxl AS DOUBLE) AS vxl,
        |    CAST(nl * sxyl - sxl * syl AS DOUBLE) AS cvl,
        |    CAST(nl * syyl - syl * syl AS DOUBLE) AS vyl,
        |    CAST(nr * sxxr - sxr * sxr AS DOUBLE) AS vxr,
        |    CAST(nr * sxyr - sxr * syr AS DOUBLE) AS cvr,
        |    CAST(nr * syyr - syr * syr AS DOUBLE) AS vyr,
        |    CAST(sxl AS DOUBLE) AS sxld, CAST(syl AS DOUBLE) AS syld,
        |    CAST(sxr AS DOUBLE) AS sxrd, CAST(syr AS DOUBLE) AS syrd,
        |    CAST(sxxl AS DOUBLE) AS sxxld, CAST(sxxr AS DOUBLE) AS sxxrd,
        |    CAST(nl AS DOUBLE) AS nld, CAST(nr AS DOUBLE) AS nrd
        |  FROM m),
        |g AS (
        |  SELECT nl, nr,
        |    CASE WHEN vxl > 0 THEN cvl / vxl END AS sll,
        |    CASE WHEN vxr > 0 THEN cvr / vxr END AS slr,
        |    CASE WHEN vxl > 0
        |      THEN (syld - (cvl / vxl) * sxld) / nld / 1000000.0 END AS b0l,
        |    CASE WHEN vxr > 0
        |      THEN (syrd - (cvr / vxr) * sxrd) / nrd / 1000000.0 END AS b0r,
        |    CASE WHEN vxl > 0 AND nld > 2
        |      THEN ((vyl - (cvl / vxl) * cvl) / nld) / (nld - 2.0)
        |        * sxxld / vxl / 1000000000000.0 END AS vbl,
        |    CASE WHEN vxr > 0 AND nrd > 2
        |      THEN ((vyr - (cvr / vxr) * cvr) / nrd) / (nrd - 2.0)
        |        * sxxrd / vxr / 1000000000000.0 END AS vbr
        |  FROM f)
        |SELECT CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
        |  round(b0l, 6) AS b_left, round(b0r, 6) AS b_right,
        |  round(sll, 6) AS slope_left, round(slr, 6) AS slope_right,
        |  round(b0r - b0l, 6) AS tau,
        |  CASE WHEN sqrt(vbl + vbr) > 0 THEN round(sqrt(vbl + vbr), 6) END AS se_tau,
        |  CASE WHEN sqrt(vbl + vbr) > 0
        |    THEN round((b0r - b0l) / sqrt(vbl + vbr), 6) END AS z
        |FROM g""".stripMargin,
    "q_iv" ->
      """WITH b AS (
        |  SELECT (user_id % 2) = 1 AS z,
        |    CAST(round(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END
        |      * 1000000.0) AS HUGEINT) AS x,
        |    CAST(round(value * 1000000.0) AS HUGEINT) AS y
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN NOT z THEN 1 ELSE 0 END) AS HUGEINT) AS n0,
        |    SUM(CASE WHEN NOT z THEN x ELSE 0 END) AS sx0,
        |    SUM(CASE WHEN NOT z THEN y ELSE 0 END) AS sy0,
        |    SUM(CASE WHEN NOT z THEN x * x ELSE 0 END) AS sxx0,
        |    CAST(SUM(CASE WHEN z THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        |    SUM(CASE WHEN z THEN x ELSE 0 END) AS sx1,
        |    SUM(CASE WHEN z THEN y ELSE 0 END) AS sy1,
        |    SUM(CASE WHEN z THEN x * x ELSE 0 END) AS sxx1
        |  FROM b),
        |f AS (
        |  SELECT n0, n1,
        |    CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0
        |      - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 1000000.0 AS itt,
        |    CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 1000000.0
        |      - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 1000000.0 AS fs,
        |    (CAST(n0 * sxx0 - sx0 * sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |      + CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |      / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 2.0)
        |      / 1000000000000.0 AS s2
        |  FROM m)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |  round(itt, 6) AS itt, round(fs, 6) AS first_stage,
        |  CASE WHEN n0 >= 2 AND n1 >= 2 AND s2 > 0
        |    THEN round(fs * fs / (s2 * (1.0 / CAST(n0 AS DOUBLE)
        |      + 1.0 / CAST(n1 AS DOUBLE))), 6) END AS f_first,
        |  CASE WHEN fs <> 0 THEN round(itt / fs, 6) END AS beta_iv
        |FROM f""".stripMargin,
    "q_logit" -> logitOracleSql,
    "q_ipw" -> ipwOracleSql,
    "q_positivity" -> positivityOracleSql,
    "q_balance" -> balanceOracleSql,
    "q_aipw" -> aipwOracleSql,
    "q_psm" -> psmOracleSql,
    "q_twfe" -> twfeOracleSql,
    "q_ransac" -> ransacOracleSql,
    "q_huber" -> huberOracleSql(4, 25000000L),
    "q_k_anon" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
        |    COUNT(DISTINCT c_acctbal) AS l
        |  FROM customer GROUP BY 1, 2),
        |a AS (
        |  SELECT SUM(n) AS n_rows, COUNT(*) AS n_groups,
        |    MIN(n) AS k_min, MIN(l) AS l_min,
        |    SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS groups_below_k,
        |    SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS rows_below_k
        |  FROM g)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows, CAST(n_groups AS BIGINT) AS n_groups,
        |  CAST(k_min AS BIGINT) AS k_min, CAST(l_min AS BIGINT) AS l_min,
        |  CAST(groups_below_k AS BIGINT) AS groups_below_k,
        |  CAST(rows_below_k AS BIGINT) AS rows_below_k,
        |  CAST((CAST(rows_below_k AS HUGEINT) * 2000000 + n_rows)
        |    // (CAST(n_rows AS HUGEINT) * 2) AS DOUBLE) / 1000000.0
        |    AS pct_below_k
        |FROM a""".stripMargin,
    "q_tcloseness" ->
      """WITH base AS (
        |  SELECT c_nationkey AS q, c_mktsegment AS s FROM customer
        |  WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
        |gc AS (SELECT q, s, COUNT(*) AS ngc FROM base GROUP BY 1, 2),
        |cat AS (SELECT s, COUNT(*) AS nc FROM base GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS N FROM base),
        |pairs AS (
        |  SELECT gc.q, gc.ngc, cat.nc, tot.N,
        |    SUM(gc.ngc) OVER (PARTITION BY gc.q) AS ng
        |  FROM gc JOIN cat USING (s) CROSS JOIN tot),
        |grp AS (
        |  SELECT q, MAX(ng) AS gsz, MAX(N) AS tbln,
        |    SUM(ABS(CAST(ngc AS HUGEINT) * N - CAST(nc AS HUGEINT) * ng)
        |      - CAST(nc AS HUGEINT) * ng) AS tsum
        |  FROM pairs GROUP BY 1),
        |tm AS (
        |  SELECT gsz,
        |    CAST(((tsum + CAST(gsz AS HUGEINT) * tbln) * 1000000 * 2
        |        + CAST(gsz AS HUGEINT) * tbln * 2)
        |      // (CAST(gsz AS HUGEINT) * tbln * 2 * 2) AS BIGINT) AS t_micros
        |  FROM grp),
        |a AS (
        |  SELECT SUM(gsz) AS n_rows, COUNT(*) AS n_groups,
        |    MAX(t_micros) AS tmax,
        |    SUM(CASE WHEN t_micros > 100000 THEN 1 ELSE 0 END) AS ga,
        |    SUM(CASE WHEN t_micros > 100000 THEN gsz ELSE 0 END) AS ra
        |  FROM tm)
        |SELECT CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_groups AS BIGINT) AS n_groups,
        |  CAST(tmax AS DOUBLE) / 1000000.0 AS t_max,
        |  CAST(ga AS BIGINT) AS groups_above_t,
        |  CAST(ra AS BIGINT) AS rows_above_t,
        |  CAST((CAST(ra AS HUGEINT) * 2000000 + n_rows)
        |    // (CAST(n_rows AS HUGEINT) * 2) AS DOUBLE) / 1000000.0
        |    AS pct_above_t
        |FROM a""".stripMargin,
    "q_uncertainty" ->
      """WITH cells AS (
        |  SELECT source AS x, lang AS y, COUNT(*) AS n
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |hx AS (
        |  SELECT SUM(c) AS N,
        |    SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |      * 1000000000.0) AS HUGEINT)) AS lx
        |  FROM (SELECT x, SUM(n) AS c FROM cells GROUP BY 1)),
        |hy AS (
        |  SELECT SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |      * 1000000000.0) AS HUGEINT)) AS ly
        |  FROM (SELECT y, SUM(n) AS c FROM cells GROUP BY 1)),
        |hxy AS (
        |  SELECT SUM(CAST(round(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
        |      * 1000000000.0) AS HUGEINT)) AS lxy
        |  FROM cells),
        |a AS (SELECT * FROM hx CROSS JOIN hy CROSS JOIN hxy),
        |f AS (
        |  SELECT CAST(N AS BIGINT) AS n,
        |    ln(CAST(N AS DOUBLE)) - CAST(lx AS DOUBLE) / 1000000000.0
        |      / CAST(N AS DOUBLE) AS hx,
        |    ln(CAST(N AS DOUBLE)) - CAST(ly AS DOUBLE) / 1000000000.0
        |      / CAST(N AS DOUBLE) AS hy,
        |    ln(CAST(N AS DOUBLE)) - CAST(lxy AS DOUBLE) / 1000000000.0
        |      / CAST(N AS DOUBLE) AS hxy
        |  FROM a)
        |SELECT n, round(hx, 6) AS h_x, round(hy, 6) AS h_y,
        |  round(hx + hy - hxy, 6) AS mi,
        |  CASE WHEN hy > 0.0 THEN round((hx + hy - hxy) / hy, 6) END AS u_yx,
        |  CASE WHEN hx > 0.0 THEN round((hx + hy - hxy) / hx, 6) END AS u_xy,
        |  CASE WHEN hx + hy > 0.0
        |    THEN round(2.0 * (hx + hy - hxy) / (hx + hy), 6) END AS u_sym
        |FROM f""".stripMargin,
    "q_wls" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 1000000.0) AS HUGEINT) AS x,
        |    CAST(round(l_extendedprice * 1000000.0) AS HUGEINT) AS y,
        |    CAST(round((1.0 - l_discount) * 1000000.0) AS HUGEINT) AS w
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND round((1.0 - l_discount) * 1000000.0) >= 0),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(w) AS sw, SUM(w * x) AS swx, SUM(w * y) AS swy,
        |    SUM(w * x * x) AS swxx, SUM(w * x * y) AS swxy
        |  FROM b GROUP BY 1),
        |f AS (
        |  SELECT l_returnflag, n,
        |    CAST(sw AS DOUBLE) AS swd,
        |    CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
        |      - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE) AS vx,
        |    CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
        |      - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE) AS cv,
        |    CAST(swx AS DOUBLE) AS swxd, CAST(swy AS DOUBLE) AS swyd
        |  FROM m)
        |SELECT l_returnflag, n, round(swd / 1000000.0, 6) AS w_sum,
        |  CASE WHEN vx > 0 THEN round(cv / vx, 6) END AS slope,
        |  CASE WHEN vx > 0
        |    THEN round((swyd - (cv / vx) * swxd) / swd / 1000000.0, 6) END AS intercept
        |FROM f ORDER BY l_returnflag""".stripMargin,
    "q_cuped" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END) AS cents,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'a'
        |              WHEN user_id % 2 = 1 THEN 'b' END AS g,
        |    CAST(round(CAST(cents AS DOUBLE) / 100.0 * 1000000.0) AS HUGEINT) AS y,
        |    CAST(round(CAST(views AS DOUBLE) * 1000000.0) AS HUGEINT) AS x
        |  FROM pu WHERE cents IS NOT NULL),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS HUGEINT) AS na,
        |    SUM(CASE WHEN g = 'a' THEN y END) AS sya,
        |    SUM(CASE WHEN g = 'a' THEN x END) AS sxa,
        |    CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS HUGEINT) AS nb,
        |    SUM(CASE WHEN g = 'b' THEN y END) AS syb,
        |    SUM(CASE WHEN g = 'b' THEN x END) AS sxb,
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(y) AS sy, SUM(x) AS sx,
        |    SUM(y * y) AS syy, SUM(x * x) AS sxx, SUM(x * y) AS sxy
        |  FROM b),
        |c AS (
        |  SELECT na, nb,
        |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS mya,
        |    CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS myb,
        |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS mxa,
        |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mxb,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS covn,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS varxn,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS varyn
        |  FROM m),
        |e AS (
        |  SELECT na, nb, mya - myb AS diff_raw,
        |    CASE WHEN varxn > 0 THEN covn / varxn ELSE 0.0 END AS theta,
        |    (mya - myb) - (CASE WHEN varxn > 0 THEN covn / varxn ELSE 0.0 END)
        |      * (mxa - mxb) AS diff_adj,
        |    covn * covn / (varxn * varyn) AS rho_sq, varxn, varyn
        |  FROM c)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(diff_raw, 6) AS diff_raw, round(theta, 6) AS theta,
        |  round(diff_adj, 6) AS diff_adj,
        |  CASE WHEN varxn > 0 AND varyn > 0 THEN round(rho_sq, 6) END AS rho_sq
        |FROM e""".stripMargin,
    "q_effect_size" ->
      """WITH tagged AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
        |    CAST(round(value * 1e6) AS HUGEINT) AS x
        |  FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |m AS (
        |  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s, SUM(x * x) AS ss
        |  FROM tagged GROUP BY 1),
        |w AS (
        |  SELECT
        |    (SELECT n FROM m WHERE g = 'a') AS na,
        |    (SELECT s FROM m WHERE g = 'a') AS sa,
        |    (SELECT ss FROM m WHERE g = 'a') AS ssa,
        |    (SELECT n FROM m WHERE g = 'b') AS nb,
        |    (SELECT s FROM m WHERE g = 'b') AS sb,
        |    (SELECT ss FROM m WHERE g = 'b') AS ssb),
        |c AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 AS ma,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 AS mb,
        |    CAST(na * ssa - sa * sa AS DOUBLE) / CAST(na AS DOUBLE) AS da,
        |    CAST(nb * ssb - sb * sb AS DOUBLE) / CAST(nb AS DOUBLE) AS db,
        |    CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS ntot
        |  FROM w),
        |e AS (
        |  SELECT na, nb, ma, mb, ntot,
        |    sqrt((da + db) / (ntot - 2.0)) / 1e6 AS sp
        |  FROM c)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  CASE WHEN na >= 2 AND nb >= 2 AND sp > 0 THEN round(sp, 6) END AS pooled_sd,
        |  CASE WHEN na >= 2 AND nb >= 2 AND sp > 0
        |    THEN round((ma - mb) / sp, 6) END AS cohens_d,
        |  CASE WHEN na >= 2 AND nb >= 2 AND sp > 0
        |    THEN round(((ma - mb) / sp) * (1.0 - 3.0 / (4.0 * ntot - 9.0)), 6)
        |  END AS hedges_g
        |FROM e""".stripMargin,
    "q_levene" ->
      """WITH b AS (
        |  SELECT event_type AS g, value AS v FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |vv AS (SELECT g, CAST(round(v * 1000000.0) AS BIGINT) AS x FROM b),
        |r AS (
        |  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) - 1 AS i,
        |    COUNT(*) OVER (PARTITION BY g) - 1 AS m
        |  FROM vv),
        |md AS (
        |  SELECT g, round(CAST(SUM(CASE
        |      WHEN i = m // 2 THEN (2 - (m - (m // 2) * 2)) * x
        |      WHEN i = m // 2 + 1 THEN (m - (m // 2) * 2) * x
        |      ELSE 0 END) AS DOUBLE) / 2.0 / 1000000.0, 6) AS med
        |  FROM r GROUP BY 1),
        |z AS (
        |  SELECT b.g AS g, CAST(round(abs(b.v - md.med) * 1000000.0) AS BIGINT) AS x
        |  FROM b JOIN md ON b.g = md.g),
        |pg AS (
        |  SELECT g, COUNT(*) AS ng, SUM(x) AS sg, SUM(x * x) AS ssg
        |  FROM z GROUP BY 1),
        |gr AS (SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sg) AS s FROM pg),
        |tm AS (
        |  SELECT pg.ng, k, n,
        |    CAST(round(CAST(ng AS DOUBLE)
        |      * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) / 1000000.0
        |         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
        |      * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) / 1000000.0
        |         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
        |      * 1000000000.0) AS BIGINT) AS tb,
        |    CAST(round(CAST(ng * ssg - sg * sg AS DOUBLE)
        |      / CAST(ng AS DOUBLE) / 1000000000000.0 * 1000000000.0) AS BIGINT) AS tw
        |  FROM pg CROSS JOIN gr),
        |a AS (
        |  SELECT k, n, SUM(tb) AS ssb, SUM(tw) AS ssw FROM tm GROUP BY 1, 2)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  round(CAST(ssb AS DOUBLE) / 1000000000.0, 6) AS ss_between,
        |  round(CAST(ssw AS DOUBLE) / 1000000000.0, 6) AS ss_within,
        |  CASE WHEN k >= 2 AND n > k AND ssw > 0 THEN
        |    round((CAST(ssb AS DOUBLE) / 1000000000.0 / (CAST(k AS DOUBLE) - 1.0))
        |        / (CAST(ssw AS DOUBLE) / 1000000000.0 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |  END AS f,
        |  CASE WHEN ssb + ssw > 0 THEN
        |    round(CAST(ssb AS DOUBLE) / 1000000000.0
        |      / (CAST(ssb AS DOUBLE) / 1000000000.0 + CAST(ssw AS DOUBLE) / 1000000000.0), 6)
        |  END AS eta_sq
        |FROM a""".stripMargin,
    "q_paired_t" ->
      """WITH tg AS (
        |  SELECT user_id AS k,
        |    CASE WHEN event_type = 'purchase' THEN 'a'
        |         WHEN event_type = 'click' THEN 'b' END AS g,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS x
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |    AND user_id IS NOT NULL),
        |pk AS (
        |  SELECT k,
        |    SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN g = 'a' THEN x END) AS sa,
        |    SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN g = 'b' THEN x END) AS sb
        |  FROM tg GROUP BY 1),
        |d AS (
        |  SELECT CAST(round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
        |    - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) * 1000.0) AS HUGEINT) AS dd
        |  FROM pk WHERE na > 0 AND nb > 0),
        |a AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(dd) AS s, SUM(dd * dd) AS ss
        |  FROM d),
        |c AS (
        |  SELECT n,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e9 AS md,
        |    CAST(n * ss - s * s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e18 AS vd
        |  FROM a)
        |SELECT CAST(n AS BIGINT) AS n_pairs,
        |  round(md, 6) AS mean_diff,
        |  CASE WHEN n >= 2 AND vd > 0 THEN round(sqrt(vd), 6) END AS sd_diff,
        |  CASE WHEN n >= 2 AND vd > 0
        |    THEN round(md / sqrt(vd / CAST(n AS DOUBLE)), 6) END AS t
        |FROM c""".stripMargin,
    "q_durbin_watson" ->
      """WITH dly AS (
        |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |v AS (
        |  SELECT g, CAST(round(day * 1000000.0) AS HUGEINT) AS x,
        |    CAST(round(cents * 1000000.0) AS HUGEINT) AS y
        |  FROM dly),
        |w AS (
        |  SELECT g, x, y,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS HUGEINT) AS n,
        |    SUM(x) OVER (PARTITION BY g) AS sx,
        |    SUM(y) OVER (PARTITION BY g) AS sy,
        |    SUM(x * x) OVER (PARTITION BY g) AS sxx,
        |    SUM(x * y) OVER (PARTITION BY g) AS sxy
        |  FROM v),
        |res AS (
        |  SELECT g, x, y, n,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        |    sx, sy
        |  FROM w),
        |e AS (
        |  SELECT g, n,
        |    CASE WHEN varx <> 0.0 THEN CAST(round(
        |      (CAST(y AS DOUBLE)
        |        - (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |        - slope * CAST(x AS DOUBLE)) * 1000.0) AS HUGEINT) END AS ee,
        |    x, y
        |  FROM res),
        |lg AS (
        |  SELECT g, n, ee,
        |    lag(ee) OVER (PARTITION BY g ORDER BY x, y) AS ep
        |  FROM e),
        |agg AS (
        |  SELECT g, COUNT(*) AS n, SUM(ee * ee) AS see,
        |    SUM(CASE WHEN ep IS NOT NULL THEN (ee - ep) * (ee - ep) END) AS sdd
        |  FROM lg GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 2 AND see IS NOT NULL AND see > 0
        |    THEN round(CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE), 6) END AS dw
        |FROM agg ORDER BY g
        |""".stripMargin,
    "q_benford" ->
      """WITH u AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
        |d AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM u WHERE c > 0),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT SUM(n) AS tot FROM g)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
        |  round(ln(1 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6) AS expected_share,
        |  round(abs(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
        |    - ln(1 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)), 6) AS abs_dev
        |FROM g, t ORDER BY digit
        |""".stripMargin,
    "q_ols_trend" ->
      """WITH pts AS (
        |  SELECT event_type,
        |    CAST(round((floor(epoch_us(ts) / 86400000000) - 19723) * 1e6) AS HUGEINT) AS xq,
        |    CAST(round(value * 1e6) AS HUGEINT) AS yq
        |  FROM events),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(xq) AS sx, SUM(yq) AS sy,
        |    SUM(xq * xq) AS sxx, SUM(xq * yq) AS sxy, SUM(yq * yq) AS syy
        |  FROM pts GROUP BY 1),
        |d AS (
        |  SELECT event_type, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS var_x,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS var_y,
        |    CAST(sy * sxx - sx * sxy AS DOUBLE) AS inter_n
        |  FROM m),
        |r AS (
        |  SELECT event_type, n, cov_n, var_x, var_y, inter_n,
        |    CASE WHEN var_x <> 0 AND var_y <> 0
        |      THEN cov_n / sqrt(var_x * var_y) END AS rr
        |  FROM d)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN var_x <> 0 THEN round(cov_n / var_x, 6) END AS slope,
        |  CASE WHEN var_x <> 0 THEN round(inter_n / var_x / 1e6, 6) END AS intercept,
        |  CASE WHEN rr IS NOT NULL THEN round(rr * rr, 6) END AS r2
        |FROM r ORDER BY event_type
        |""".stripMargin,
    "q_vocab_drift" ->
      """WITH rt AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |  WHERE source = 'src0'),
        |ct AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |  WHERE source = 'src1'),
        |rc AS (SELECT token AS category, COUNT(*) AS rn FROM rt GROUP BY 1),
        |cc AS (SELECT token AS category, COUNT(*) AS cn FROM ct GROUP BY 1),
        |cats AS (SELECT category FROM rc ORDER BY rn DESC, category LIMIT 20),
        |rb AS (
        |  SELECT CASE WHEN cats.category IS NOT NULL THEN rc.category
        |    ELSE '__OTHER__' END AS category, SUM(rn) AS rn
        |  FROM rc LEFT JOIN cats USING (category) GROUP BY 1),
        |cb AS (
        |  SELECT CASE WHEN cats.category IS NOT NULL THEN cc.category
        |    ELSE '__OTHER__' END AS category, SUM(cn) AS cn
        |  FROM cc LEFT JOIN cats USING (category) GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(rb.category, cb.category) AS category,
        |    COALESCE(rn, 0) AS ref_n, COALESCE(cn, 0) AS cur_n
        |  FROM rb FULL OUTER JOIN cb USING (category)),
        |p AS (
        |  SELECT category, CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
        |    (ref_n + 0.5) / (SUM(ref_n) OVER () + 0.5 * CAST(COUNT(*) OVER () AS DOUBLE)) AS rp,
        |    (cur_n + 0.5) / (SUM(cur_n) OVER () + 0.5 * CAST(COUNT(*) OVER () AS DOUBLE)) AS cp
        |  FROM j)
        |SELECT category, ref_n, cur_n,
        |  round((cp - rp) * ln(cp / rp), 6) AS psi_term
        |FROM p ORDER BY category""".stripMargin,
    "q_embed_drift" ->
      """WITH re AS (
        |  SELECT CAST(u.d AS INT) AS dim, u.x FROM (
        |    SELECT unnest([{'d': i - 1, 'x': embedding[i]}
        |      FOR i IN range(1, len(embedding) + 1)]) AS u
        |    FROM embeddings WHERE label = 0)),
        |ce AS (
        |  SELECT CAST(u.d AS INT) AS dim, u.x FROM (
        |    SELECT unnest([{'d': i - 1, 'x': embedding[i]}
        |      FOR i IN range(1, len(embedding) + 1)]) AS u
        |    FROM embeddings WHERE label = 1)),
        |rc AS (SELECT dim, CAST(x >= -0.2 AS INT) + CAST(x >= -0.1 AS INT) + CAST(x >= -0.05 AS INT) + CAST(x >= 0.0 AS INT) + CAST(x >= 0.05 AS INT) + CAST(x >= 0.1 AS INT) + CAST(x >= 0.2 AS INT) AS bin, COUNT(*) AS rn FROM re GROUP BY 1, 2),
        |cc AS (SELECT dim, CAST(x >= -0.2 AS INT) + CAST(x >= -0.1 AS INT) + CAST(x >= -0.05 AS INT) + CAST(x >= 0.0 AS INT) + CAST(x >= 0.05 AS INT) + CAST(x >= 0.1 AS INT) + CAST(x >= 0.2 AS INT) AS bin, COUNT(*) AS cn FROM ce GROUP BY 1, 2),
        |spine AS (
        |  SELECT d.dim, b.bin FROM (SELECT DISTINCT dim FROM re) d
        |  CROSS JOIN (SELECT CAST(unnest(range(8)) AS INT) AS bin) b),
        |j AS (
        |  SELECT s.dim, s.bin, COALESCE(rc.rn, 0) AS rn, COALESCE(cc.cn, 0) AS cn
        |  FROM spine s LEFT JOIN rc USING (dim, bin) LEFT JOIN cc USING (dim, bin)),
        |p AS (
        |  SELECT dim, rn, cn,
        |    (rn + 0.5) / (SUM(rn) OVER (PARTITION BY dim) + 4.0) AS rp,
        |    (cn + 0.5) / (SUM(cn) OVER (PARTITION BY dim) + 4.0) AS cp
        |  FROM j),
        |t2 AS (
        |  SELECT dim, rn, cn,
        |    CAST(round(((cp - rp) * ln(cp / rp)) * 1000000000.0) AS BIGINT) AS tn
        |  FROM p)
        |SELECT dim, CAST(SUM(rn) AS BIGINT) AS ref_n, CAST(SUM(cn) AS BIGINT) AS cur_n,
        |  round(CAST(SUM(tn) AS DOUBLE) / 1000000000.0, 6) AS psi
        |FROM t2 GROUP BY 1 ORDER BY dim""".stripMargin,
    "q_profile" ->
      """SELECT 'l_discount' AS col_name, COUNT(*) AS n_rows,
        |  CAST(COALESCE(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
        |  COUNT(DISTINCT l_discount) AS n_distinct,
        |  CAST(min(l_discount) AS VARCHAR) AS min_value, CAST(max(l_discount) AS VARCHAR) AS max_value
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linenumber', COUNT(*),
        |  CAST(COALESCE(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
        |  COUNT(DISTINCT l_linenumber),
        |  CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', COUNT(*),
        |  CAST(COALESCE(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
        |  COUNT(DISTINCT l_quantity),
        |  CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', COUNT(*),
        |  CAST(COALESCE(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
        |  COUNT(DISTINCT l_returnflag),
        |  min(l_returnflag), max(l_returnflag)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin,
    "q_joinsize_bound" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT o_orderstatus,
        |    quantile_cont(o_totalprice, 0.05) AS wlo,
        |    quantile_cont(o_totalprice, 0.95) AS whi
        |  FROM orders GROUP BY o_orderstatus),
        |w AS (
        |  SELECT o.o_orderstatus,
        |    least(greatest(o.o_totalprice, b.wlo), b.whi) AS v
        |  FROM orders o JOIN b USING (o_orderstatus))
        |SELECT o_orderstatus, count(*) AS n, min(v) AS lo, max(v) AS hi,
        |  CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS wmean
        |FROM w GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_compact_audit" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_ks" ->
      """WITH u AS (
        |  SELECT o_totalprice AS v,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS ia,
        |    CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END AS ib
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |g AS (
        |  SELECT v, CAST(sum(ia) AS BIGINT) AS ca, CAST(sum(ib) AS BIGINT) AS cb
        |  FROM u GROUP BY v),
        |c AS (
        |  SELECT CAST(sum(ca) OVER w AS BIGINT) AS cca,
        |         CAST(sum(cb) OVER w AS BIGINT) AS ccb
        |  FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |t AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
        |  FROM g)
        |SELECT n_a, n_b,
        |  CAST(max(abs(cca * n_b - ccb * n_a)) AS BIGINT) AS d_num,
        |  CAST(max(abs(cca * n_b - ccb * n_a)) AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks
        |FROM c, t GROUP BY n_a, n_b""".stripMargin,
    "q_table_checksum" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(concat_ws(chr(1),
        |    coalesce(CAST(l_orderkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_linenumber AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_partkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_suppkey AS VARCHAR), chr(2)),
        |    coalesce(l_returnflag, chr(2)),
        |    coalesce(l_linestatus, chr(2)))), 1, 15)) AS BIGINT) AS h
        |  FROM lineitem)
        |SELECT count(*) AS n_rows, bit_xor(h) AS xor60,
        |  CAST(sum(h) % 4611686018427387904 AS BIGINT) AS sum60
        |FROM h""".stripMargin,
    "q_histogram" ->
      """WITH b AS (
        |  SELECT CASE WHEN l_extendedprice < 20000.0 THEN -1
        |              WHEN l_extendedprice >= 80000.0 THEN 16
        |              ELSE CAST(least(floor((l_extendedprice - 20000.0)
        |                     / ((80000.0 - 20000.0) / 16)), 15) AS INTEGER)
        |         END AS bin
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT bin, COUNT(*) AS n,
        |  CASE WHEN bin >= 0 AND bin < 16
        |       THEN 20000.0 + bin * ((80000.0 - 20000.0) / 16) END AS bin_lo
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q_impute" ->
      """WITH v AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events),
        |f AS (
        |  SELECT user_id, v,
        |    CAST(SUM(CAST(v AS DECIMAL(18,2))) OVER (PARTITION BY user_id) AS DOUBLE)
        |      / COUNT(v) OVER (PARTITION BY user_id) AS fill
        |  FROM v)
        |SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
        |  MIN(CASE WHEN v IS NULL THEN fill END) AS fill_value,
        |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_present
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_incremental" ->
      // direct whole-table aggregation: the Spark side merges three
      // disjoint batch states — agreement proves merge = recompute
      """SELECT o_orderpriority, COUNT(o_totalprice) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |  MIN(o_totalprice) AS min_total,
        |  MAX(o_totalprice) AS max_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_cms" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_quantile_bound" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_hll_merge" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_binning" ->
      """WITH b AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    ntile(4) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bin
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM b GROUP BY l_returnflag, bin
        |ORDER BY l_returnflag, bin""".stripMargin,
    "q_ref_integrity" ->
      """WITH a AS (
        |  SELECT 'lineitem->orders' AS relation, COUNT(*) AS child_rows,
        |    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS null_fk_rows,
        |    (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM orders o
        |         WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows
        |  FROM lineitem),
        |b AS (
        |  SELECT 'orders->customer' AS relation, COUNT(*) AS child_rows,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_fk_rows,
        |    (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM customer c
        |         WHERE c.c_custkey = o.o_custkey)) AS orphan_rows
        |  FROM orders)
        |SELECT relation, child_rows,
        |  CAST(null_fk_rows AS BIGINT) AS null_fk_rows,
        |  CAST(orphan_rows AS BIGINT) AS orphan_rows,
        |  CASE WHEN child_rows > 0 THEN
        |    CAST((CAST(orphan_rows AS HUGEINT) * 2000000 + child_rows)
        |      // (CAST(child_rows AS HUGEINT) * 2) AS DOUBLE) / 1000000.0
        |  END AS orphan_pct
        |FROM (SELECT * FROM a UNION ALL SELECT * FROM b) u
        |ORDER BY relation""".stripMargin,
    "q_expectations" ->
      """WITH a AS (SELECT
        |  CAST(COALESCE(sum(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.05) THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_range,
        |  CAST(COALESCE(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N') THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_set,
        |  CAST(COALESCE(sum(CASE WHEN l_linestatus IS NOT NULL AND NOT regexp_full_match(l_linestatus, '(?:[OF])') THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_match,
        |  CAST(COALESCE(sum(CASE WHEN COALESCE(l_extendedprice >= 0, FALSE) THEN 0 ELSE 1 END), 0) AS BIGINT) AS v_sat,
        |  CAST(COALESCE(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_null,
        |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v_uni
        | FROM lineitem)
        |SELECT rule, violations, violations = 0 AS passed FROM (
        |  SELECT 'in_range(l_discount,0.0,0.05)' AS rule, v_range AS violations FROM a
        |  UNION ALL SELECT 'in_set(l_returnflag)', v_set FROM a
        |  UNION ALL SELECT 'matches(l_linestatus)', v_match FROM a
        |  UNION ALL SELECT 'non_negative_price', v_sat FROM a
        |  UNION ALL SELECT 'not_null(l_returnflag)', v_null FROM a
        |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', v_uni FROM a)
        |ORDER BY rule""".stripMargin,
    "q_drift" ->
      """WITH r AS (
        |  SELECT CAST(value >= 25.0 AS INT) + CAST(value >= 50.0 AS INT)
        |       + CAST(value >= 75.0 AS INT) + CAST(value >= 100.0 AS INT)
        |       + CAST(value >= 150.0 AS INT) + CAST(value >= 200.0 AS INT)
        |       + CAST(value >= 250.0 AS INT) + CAST(value >= 300.0 AS INT) AS bin
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL),
        |c AS (
        |  SELECT CAST(value >= 25.0 AS INT) + CAST(value >= 50.0 AS INT)
        |       + CAST(value >= 75.0 AS INT) + CAST(value >= 100.0 AS INT)
        |       + CAST(value >= 150.0 AS INT) + CAST(value >= 200.0 AS INT)
        |       + CAST(value >= 250.0 AS INT) + CAST(value >= 300.0 AS INT) AS bin
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |bins AS (SELECT CAST(unnest(range(9)) AS INT) AS bin),
        |rc AS (SELECT bin, count(*) AS n FROM r GROUP BY bin),
        |cc AS (SELECT bin, count(*) AS n FROM c GROUP BY bin),
        |j AS (
        |  SELECT b.bin, COALESCE(rc.n, 0) AS ref_n, COALESCE(cc.n, 0) AS cur_n
        |  FROM bins b LEFT JOIN rc ON b.bin = rc.bin LEFT JOIN cc ON b.bin = cc.bin),
        |p AS (
        |  SELECT bin, ref_n, cur_n,
        |    (ref_n + 0.5) / (sum(ref_n) OVER () + 4.5) AS ref_p,
        |    (cur_n + 0.5) / (sum(cur_n) OVER () + 4.5) AS cur_p
        |  FROM j)
        |SELECT bin, ref_n, cur_n,
        |  round((cur_p - ref_p) * ln(cur_p / ref_p), 6) AS psi_term
        |FROM p ORDER BY bin""".stripMargin,
    "q_heavy_hitters" ->
      """WITH k AS (
        |  SELECT CASE WHEN l_orderkey % 4 = 0
        |              THEN 'hot_' || CAST(l_orderkey % 3 AS VARCHAR)
        |              ELSE 'cold_' || CAST(l_orderkey AS VARCHAR) END AS key
        |  FROM lineitem),
        |c AS (SELECT key, count(*) AS cnt FROM k GROUP BY key),
        |t AS (SELECT sum(cnt) AS n FROM c)
        |SELECT key, cnt FROM c, t WHERE cnt * 100 > n ORDER BY key""".stripMargin,
    "q_hh_containment" ->
      "SELECT CAST(0 AS BIGINT) AS n_violations",
    "q_anomaly" ->
      """WITH a AS (
        |  SELECT event_type, event_id, value,
        |    count(value) OVER w AS cnt,
        |    CAST(sum(CAST(value AS DECIMAL(28,10))) OVER w AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,10))) OVER w AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT event_type, event_id, value, cnt,
        |    s1/cnt AS mean,
        |    sqrt(greatest((s2 - s1*s1/cnt)/cnt, 0.0)) AS std
        |  FROM a),
        |c AS (
        |  SELECT event_type, event_id, value,
        |    CASE WHEN cnt >= 10 AND std > 0 THEN (value - mean)/std END AS zscore
        |  FROM b)
        |SELECT event_type, event_id, value, round(zscore, 6) AS zscore FROM c
        |WHERE abs(zscore) > 3.0 ORDER BY event_type, event_id""".stripMargin,
    "q_scale" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS s2,
        |    count(l_extendedprice) AS n,
        |    min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, l_orderkey, l_linenumber,
        |  round(CASE WHEN sqrt(greatest((s2 - s1*s1/n)/n, 0.0)) > 0
        |       THEN (l_extendedprice - s1/n) / sqrt(greatest((s2 - s1*s1/n)/n, 0.0))
        |  END, 9) AS z_price,
        |  round(CASE WHEN mx - mn > 0 THEN (l_extendedprice - mn) / (mx - mn) END, 9) AS mm_price
        |FROM lineitem l JOIN s USING (l_returnflag)
        |WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // The oracle MATERIALIZES the join the operator only predicts.
    "q_joinsize" ->
      """WITH c AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1),
        |actual AS (
        |  SELECT count(*) AS cnt
        |  FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey)
        |SELECT CAST(cnt AS BIGINT) AS n_pairs,
        |  (SELECT count(*) FROM c) AS n_keys_matched,
        |  CAST(COALESCE((SELECT max(n*n) FROM c), 0) AS BIGINT) AS max_key_pairs
        |FROM actual""".stripMargin,
    "q_ab_ci" ->
      """WITH g AS (
        |  SELECT CAST(user_id % 2 AS INT) AS variant, count(*) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT variant, n, x,
        |    x / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM g)
        |SELECT variant, n, x,
        |  p AS p_hat,
        |  greatest((p + (CAST(1.96 AS DOUBLE)*CAST(1.96 AS DOUBLE))/(2.0*nd) -
        |    1.96 * sqrt(p*(1.0 - p)/nd + (CAST(1.96 AS DOUBLE)*CAST(1.96 AS DOUBLE))/(4.0*nd*nd)))
        |    / (1.0 + (CAST(1.96 AS DOUBLE)*CAST(1.96 AS DOUBLE))/nd), 0.0) AS ci_lo,
        |  least((p + (CAST(1.96 AS DOUBLE)*CAST(1.96 AS DOUBLE))/(2.0*nd) +
        |    1.96 * sqrt(p*(1.0 - p)/nd + (CAST(1.96 AS DOUBLE)*CAST(1.96 AS DOUBLE))/(4.0*nd*nd)))
        |    / (1.0 + (CAST(1.96 AS DOUBLE)*CAST(1.96 AS DOUBLE))/nd), 1.0) AS ci_hi
        |FROM f ORDER BY variant""".stripMargin,
    // quantile_cont interpolates lower + (upper-lower)·frac with frac an
    // exact power-of-two fraction here, matching Spark's percentile bit
    // for bit; the fence arithmetic mirrors the operator's expression
    // shape exactly.
    "q_outliers" ->
      """WITH q AS (
        |  SELECT o_orderstatus,
        |    CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE) AS q1,
        |    CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE) AS q3
        |  FROM orders GROUP BY o_orderstatus),
        |b AS (
        |  SELECT o_orderstatus, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
        |  FROM q)
        |SELECT o.o_orderstatus,
        |  CAST(round(b.q1 * 1000000.0) AS BIGINT) AS q1_micro,
        |  CAST(round(b.q3 * 1000000.0) AS BIGINT) AS q3_micro,
        |  CAST(round(b.lo * 1000000.0) AS BIGINT) AS lo_micro,
        |  CAST(round(b.hi * 1000000.0) AS BIGINT) AS hi_micro,
        |  CAST(SUM(CASE WHEN o.o_totalprice < b.lo OR o.o_totalprice > b.hi
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  COUNT(*) AS n_rows
        |FROM orders o JOIN b ON o.o_orderstatus = b.o_orderstatus
        |GROUP BY o.o_orderstatus, b.q1, b.q3, b.lo, b.hi
        |ORDER BY o.o_orderstatus""".stripMargin,
    // Moments accumulate as exact decimals; only the closed-form r runs
    // in doubles, with the identical expression shape on both engines.
    "q_corr" ->
      """WITH v AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS d
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS n_rows,
        |    CAST(SUM(q) AS DOUBLE) AS sq,
        |    CAST(SUM(p) AS DOUBLE) AS sp,
        |    CAST(SUM(d) AS DOUBLE) AS sd,
        |    CAST(SUM(q * p) AS DOUBLE) AS sqp,
        |    CAST(SUM(q * d) AS DOUBLE) AS sqd,
        |    CAST(SUM(p * d) AS DOUBLE) AS spd,
        |    CAST(SUM(q * q) AS DOUBLE) AS sqq,
        |    CAST(SUM(p * p) AS DOUBLE) AS spp,
        |    CAST(SUM(d * d) AS DOUBLE) AS sdd
        |  FROM v GROUP BY l_returnflag)
        |SELECT l_returnflag, x_col, y_col, n_rows AS n,
        |  round(CASE WHEN den <> 0 THEN num / den END, 12) AS corr
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS x_col, 'l_extendedprice' AS y_col, n_rows,
        |    n * sqp - sq * sp AS num,
        |    sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp) AS den FROM s
        |  UNION ALL
        |  SELECT l_returnflag, 'l_quantity', 'l_discount', n_rows,
        |    n * sqd - sq * sd, sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd) FROM s
        |  UNION ALL
        |  SELECT l_returnflag, 'l_extendedprice', 'l_discount', n_rows,
        |    n * spd - sp * sd, sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd) FROM s)
        |ORDER BY l_returnflag, x_col, y_col""".stripMargin,
  )
}
