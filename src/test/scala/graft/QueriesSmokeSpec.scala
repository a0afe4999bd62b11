package graft

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark

/** Registry sweep: every registered query is built ONCE at sf0.001; the
  * test runs the physical-plan guards on it (non-validation queries
  * only), then asserts it returns rows.
  *
  * The plan guards (PlanSpec pins specific families; this covers EVERY
  * non-validation query) run on `queryExecution.sparkPlan`, the static
  * planner's choices before AQE — AQE can only improve on these, never
  * introduce a cross product:
  *
  *   - no `CartesianProduct`, and no `BroadcastNestedLoopJoin` unless its
  *     broadcast side is one of the sanctioned bounded shapes — a grand
  *     aggregate (no grouping keys → exactly one row: the "attach a
  *     scalar statistic to every row" pattern); a literal/local frame
  *     (`LocalTableScan`: driver-held constants such as k-means centers,
  *     GEKS levels, split boundaries); a small `Range`; or a KNOWN
  *     query whose broadcast side is bounded by construction but not
  *     recognizable from the node type alone (each entry justified
  *     below — additions need the same justification);
  *   - whole-frame (empty-`partitionBy`) windows only above an
  *     aggregation or a plan-time limit, and only in queries that name
  *     their row-count bound.
  *
  * A new query that sneaks in an all-pairs cross product or an unbounded
  * single-partition window fails here by name before it ever reaches the
  * bench.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Broadcast sides that are bounded by construction, keyed by query:
    * the node type alone can't prove boundedness, so each carries its
    * reason. Keep this list SHORT — prefer the recognizable shapes.
    */
  private val boundedByConstruction: Map[String, String] = Map(
    "q_imputed_index" ->
      "base-basket × distinct-period spine: the broadcast side is the distinct PERIOD list (time-bounded, ~tens of rows), crossed to build the imputation spine",
    "q_topk_similar" ->
      "the brute-force top-k BASELINE: its broadcast side is the query set bounded by a literal predicate (vec_id < 10); the scale path is q_ann_lsh/q_ivf_topk",
    "q_pq" ->
      "the PQ ADC scan crosses the corpus codes with the broadcast query LUTs (the q_topk_similar posture): its broadcast side is the query set bounded by a literal predicate (vec_id < 10), times m·k LUT entries per query",
    "q_embed_pairs" ->
      "the EXACT all-pairs near-dup operator's own surface (threshold self-join is inherently non-equi); its 100 TB path is q_embed_pairs_lsh's banded pair source",
    "q_gamma" ->
      "contingency-CELL self-join: both sides are the (x, y) level-domain aggregation (50×11 cells for this fixture — levels², never rows²; the tukeyHsd k-bounded-pairs contract)",
    "q_hubness" ->
      "EXACT k-NN-graph audit: hubnessAudit hard-requires n <= maxVectors with a distributed count BEFORE the broadcast join (the concordanceIndex posture); the full-corpus near-dup path stays banded LSH",
    "q_twonn" ->
      "EXACT top-2-NN audit: twoNnId hard-requires n <= maxVectors with a distributed count BEFORE the broadcast join (the hubnessAudit contract)",
    "q_ransac" ->
      "consensus scoring + refit: both broadcast sides are the <= candidates-row hypothesis table built from the md5-ordered plan-time LIMIT(2*candidates) sample (best is LIMIT 1)",
  )
  // q_harrell_c needs no entry since r13: concordanceIndex collects its
  // spine's smaller axis (≤ √maxGrid rows, require-counted first) into a
  // literal frame, so the broadcast side is a LocalTableScan — recognized
  // structurally by bounded() with caches cold.

  private def bounded(side: SparkPlan): Boolean = side.collectFirst {
    case a: HashAggregateExec if a.groupingExpressions.isEmpty => ()
    case a: SortAggregateExec if a.groupingExpressions.isEmpty => ()
    case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => ()
    case _: LocalTableScanExec => ()
    // a Range leaf's cardinality is a plan-time constant — sanction only
    // genuinely small spines (bin/bucket scaffolding)
    case r: RangeExec if r.numElements.isValidLong && r.numElements.toLong <= 10000L => ()
  }.isDefined

  private def crossProductOffenders(name: String, plan: SparkPlan): Seq[String] = {
    val cartesian =
      if (plan.collectFirst { case c: CartesianProductExec => c }.isDefined)
        Seq(s"$name: CartesianProduct in the physical plan")
      else Nil
    val nestedLoop = plan.collect { case j: BroadcastNestedLoopJoinExec => j }.flatMap { j =>
      val side = if (j.buildSide == BuildLeft) j.left else j.right
      if (bounded(side) || boundedByConstruction.contains(name)) None
      else Some(s"$name: BroadcastNestedLoopJoin whose broadcast side is neither " +
        s"a grand aggregate nor a literal frame:\n${side.toString.take(600)}")
    }
    cartesian ++ nestedLoop
  }

  /** Queries whose whole-frame (empty-`partitionBy`) windows run over
    * tables bounded BY CONSTRUCTION — the reference's own documented
    * perf cliff (general.py:173-179: empty partition ⇒ single
    * partition), admissible here only on row-count-bounded inputs.
    * Every entry names its bound; additions need the same.
    */
  private val boundedWholeFrameWindows: Map[String, String] = Map(
    "q_apportion" -> "quota/remainder windows over the per-group count table (rows = group count)",
    "q_chained_index" -> "cumulative log-link sum over the links table (rows = period count)",
    "q_dense_id" -> "Ids.withRunningTotals offset window (rows = partition count)",
    "q_drift" -> "PSI normalization over the bin table (rows = bin count)",
    "q_concurrency" -> "Ids.withRunningTotals offset window (rows = partition count)",
    "q_fdr" -> "BH rank/suffix-min windows over the tests table (rows = hypothesis count)",
    "q_hazard" -> "risk-set/hazard-prefix windows over the duration table (rows = distinct durations)",
    "q_km" -> "risk-set/log-prefix/zero-flag windows over the duration table (rows = distinct durations)",
    "q_cox" -> "Breslow risk-set cumulative windows over the distinct-duration table (rows = distinct durations, the q_km bound), once per Newton step",
    "q_ks" -> "Ids.withRunningTotals offset window over distinct-value counts (rows = partition count)",
    "q_token_budget" -> "Ids.withRunningTotals offset window (rows = partition count)",
    "q_vocab_drift" -> "smoothing window over the topN+1 category table",
    "q_auc" -> "Mann-Whitney cumulative window over the DISTINCT-SCORE table (a 6-dp score in [0,1] has <= 1e6+1 distinct values)",
    "q_temperature_mix" -> "apportion quota/remainder windows over the per-language count table (rows = language count)",
    "q_calibration" -> "ECE windows over the per-bin table (rows = nBins)",
    "q_lift" -> "overall/cumulative windows over the per-tile table (rows <= nTiles) + exactQuantiles' bounded boundary-row rollup",
    "q_logrank" -> "risk-set windows over the per-duration table (rows = distinct durations, the q_km bound)",
    "q_dunn" -> "shared-rank cumulative window over the DISTINCT-VALUE cell table (a 6-dp value has bounded cardinality, the q_auc bound)",
    "q_mood" -> "median-locating cumulative window over the distinct-value count table (the q_auc bound; appears in both the cut and count branches)",
    "q_pr_auc" -> "descending threshold-sweep window over the DISTINCT-SCORE table (the q_auc bound)",
    "q_by" -> "BH/BY rank, harmonic, and suffix-min windows over the tests table (rows = hypothesis count, the q_fdr bound)",
    "q_ccf" -> "lead/lag shift windows over the HOURLY-aggregated two-series table (rows = distinct hours; the constant series key optimizes to a whole-frame spec)",
    "q_rmst" -> "KM risk-set/log-prefix windows + one lead over the duration table (rows = distinct durations, the q_km bound)",
    "q_holm" -> "rank/prefix-max windows over the tests table (rows = hypothesis count, the q_fdr bound)",
    "q_granger" -> "lag windows over the HOURLY-aggregated series table (rows = distinct hours; constant series key optimizes to a whole-frame spec, the q_ccf bound)",
    "q_hurst" -> "global row-number over the HOURLY-aggregated series table (rows = distinct hours, the q_ccf bound); the per-block R/S windows are (size, block)-partitioned",
    "q_weibull" -> "rank-prefix + total-count windows over the distinct-duration table (rows = distinct durations, the q_km bound); ranks explode NARROWLY from that bounded table",
    "q_stump" -> "cumulative candidate-cut windows over the DISTINCT-SCORE table (the q_auc bound)",
    "q_tail_dep" -> "quantile-crossing cumulative windows over the two distinct-value tables (the q_auc bound)",
    "q_ks_score" -> "CDF-gap cumulative windows over the DISTINCT-SCORE table (the q_auc bound)",
    "q_page_trend" -> "treatment-order row-number over the K-ROW treatment rank-sum table (rows = treatment count)",
    "q_vocab_coverage" -> "rank/cumulative windows over the TakeOrdered top-max(k) table (rows <= 5000 by the LIMIT, never the whole vocabulary)",
    "q_conformal" -> "Ids.withRunningTotals offset window over the DISTINCT-NONCONFORMITY table (the q_auc bound: a micro-quantized score has <= 1e6+1 distinct values; offsets window rows = partition count)",
    "q_transfer_entropy" -> "state-symbolization lag windows over the HOURLY rollup (rows = distinct hours, calendar-bounded — the q_hurst single-series bound); the cell/marginal windows run over the <= 8-row triple table",
    "q_neyman" -> "apportion's largest-remainder rank window over the STRATA-bounded weight table (rows = distinct strata — the q_apportion bound)",
    "q_msprt" -> "cumulative-moment and running-min-p windows over the DAILY table (rows = distinct days, calendar-bounded — the q_pchart/q_hurst bound)",
    "q_psm" -> "nearest-control prev/next windows over the MICRO-QUANTIZED propensity grid (rows <= 2·(1e6+1): two arms × the micro domain — the q_auc bound), after the per-(pm, arm) grid collapse",
    "q_gst" -> "cumulative-moment windows over the LOOK table (rows <= plannedLooks <= 10 by require) after the daily rollup (calendar-bounded, the q_msprt bound)",
    "q_ransac" -> "candidate-pairing row_number over the md5-ordered plan-time LIMIT(2*candidates <= 512) sample table",
    "q_aalen_johansen" -> "risk-set/log-prefix/zero-flag windows over the duration table (rows = distinct durations, the q_km bound); the per-cause CIF prefix is (cause)-partitioned",
  )

  private def windowOffenders(name: String, plan: SparkPlan): Seq[String] =
    plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.flatMap { w =>
      // structural floor: a whole-frame window directly over raw rows
      // (no aggregation anywhere beneath) is the single-partition
      // cliff regardless of any whitelist entry
      val aboveAgg = w.child.collectFirst {
        case a: HashAggregateExec => a
        case a: SortAggregateExec => a
        case a: ObjectHashAggregateExec => a
        // a plan-time LIMIT is itself a row-count bound (TakeOrdered
        // top-k tables); caches can hide the aggregate beneath an
        // InMemoryRelation, but the limit node survives above it
        case t: TakeOrderedAndProjectExec if t.limit <= 100000 => null
        case l: GlobalLimitExec if l.limit <= 100000 => null
      }.isDefined
      if (!aboveAgg)
        Some(s"$name: whole-frame Window over UNAGGREGATED rows (the single-partition cliff)")
      else if (!boundedWholeFrameWindows.contains(name))
        Some(s"$name: whole-frame Window without a documented row-count bound " +
          "(add to boundedWholeFrameWindows with its bound, or partition the window)")
      else None
    }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, dir)
      if (!SparkEntry.validationQueries(name)) {
        val plan = df.queryExecution.sparkPlan
        val offenders = crossProductOffenders(name, plan) ++ windowOffenders(name, plan)
        assert(offenders.isEmpty, offenders.mkString("\n"))
      }
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("negative control: a raw table × table cross product IS flagged") {
    val bad = graft.sources.Sources.readTable(spark, dir, "nation")
      .crossJoin(graft.sources.Sources.readTable(spark, dir, "region"))
    val plan = bad.queryExecution.sparkPlan
    assert(crossProductOffenders("negative_control", plan).nonEmpty,
      s"the guard must fire on a file-scan cross product:\n${plan.toString.take(800)}")
  }
}
