package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier calibration and ranking-quality readouts — what a score
  * column must prove beyond separation ([[Stats.binaryAuc]]) before a
  * pipeline thresholds on it: does 0.8 MEAN 80%? does the top decile
  * actually concentrate the positives?
  *
  * Both operators reduce the corpus to a BIN-BOUNDED table in one
  * map-combined aggregation; every cross-bin number (ECE, cumulative
  * gain) is integer arithmetic over that bounded table, never a
  * data-sized window.
  */
object Calibration {

  /** Reliability table + expected calibration error: scores in [0,1]
    * bucket into `nBins` fixed-width bins; per bin
    * `(bin, n, mean_score, frac_pos, gap)` and the shared
    * `ece = Σ n·gap / N` repeated per row (it is the model's one
    * number, like [[graft.ops.PriceIndex.hedonicIndex]]'s beta).
    *
    * Determinism: score sums are exact micro longs; mean/frac are one
    * IEEE division each; gap nano-quantizes BEFORE the cross-bin ECE
    * sum, so the whole-frame window (bounded by bin count) adds exact
    * integers.
    */
  def calibration(df: DataFrame, positive: Column, score: Column,
                  nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins out of range: $nBins")
    val s = score.cast("double")
    val base = df.select(
        least(floor(s * nBins).cast("int"), lit(nBins - 1)).as("bin"),
        round(s * lit(1e6), 0).cast("long").as("__sm"),
        when(positive, 1L).otherwise(0L).as("__p"))
      .filter(col("__sm").isNotNull && col("bin") >= 0)
    val byBin = base.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__sm")).as("__ss"),
        sum(col("__p")).as("n_pos"))
    val meanScore = col("__ss").cast("double") / col("n").cast("double") / lit(1e6)
    val fracPos = col("n_pos").cast("double") / col("n").cast("double")
    val gapNanos = round(abs(meanScore - fracPos) * lit(1e9), 0).cast("long")
    val W = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byBin
      .withColumn("__gap", gapNanos)
      .withColumn("__eceN", sum(col("__gap") * col("n")).over(W))
      .withColumn("__N", sum(col("n")).over(W))
      .select(col("bin"), col("n"), col("n_pos"),
        round(meanScore, 6).as("mean_score"),
        round(fracPos, 6).as("frac_pos"),
        round(col("__gap").cast("double") / lit(1e9), 6).as("gap"),
        round(col("__eceN").cast("double") / col("__N").cast("double") / lit(1e9), 6)
          .as("ece"))
  }

  /** Decile lift/gain table by QUANTILE THRESHOLDS: scores bucket
    * against the nTiles−1 exact score quantiles (tile 1 = top scores);
    * per tile `(tile, n, n_pos, rate, lift, cum_gain)` with lift =
    * tile rate / overall rate and cum_gain = cumulative positives /
    * total positives — "the top 10% captures X% of the positives",
    * the number selection budgets are set by.
    *
    * Deliberately NOT `ntile` over a global row sort — that is the
    * single-partition cliff the registry guard forbids. The cutpoints
    * are WEIGHTED quantiles of the DISTINCT-SCORE table (≤ 1e6+1 rows
    * for a 6-dp score — the q_auc bound), so the only whole-frame work
    * happens above an aggregation; tied scores land in one tile
    * together (sizes deviate only at ties, and the assignment is
    * deterministic with no tie-break column needed). Cutpoints are the
    * lower weighted quantile (the smallest score whose cumulative count
    * reaches p·N), not interpolated.
    *
    * Scale shape: one (score)-keyed map-combined aggregation to the
    * distinct layer, [[Stats.weightedQuantiles]]' bounded windows over
    * it, a grand-aggregate collect of the nTiles−1 cutpoints, a
    * shuffle-free bucketing projection, one tile-bounded aggregation,
    * and windows over the ≤ nTiles-row table.
    */
  def lift(df: DataFrame, positive: Column, score: Column,
           nTiles: Int = 10): DataFrame = {
    require(nTiles >= 2 && nTiles <= 100, s"nTiles out of range: $nTiles")
    val base = df.select(
        when(positive, 1L).otherwise(0L).as("__p"),
        score.cast("double").as("__s"))
      .filter(col("__s").isNotNull)
    val qs = (1 until nTiles).map(i => (i, nTiles))
    val distinctScores = base.groupBy(col("__s")).agg(count(lit(1)).as("__c"))
    val cuts = Stats.weightedQuantiles(
        distinctScores.withColumn("__g", lit(1)), Seq("__g"),
        col("__s"), col("__c").cast("double"), qs)
      .agg(sort_array(collect_list(col("wq"))).as("__cuts"))
    val tiled = base.crossJoin(broadcast(cuts))
      .withColumn("tile",
        lit(1) + size(filter(col("__cuts"), c => col("__s") < c)))
    val byTile = tiled.groupBy(col("tile"))
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("n_pos"))
    val W = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("tile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rate = col("n_pos").cast("double") / col("n").cast("double")
    val overall = col("__tp").cast("double") / col("__tn").cast("double")
    byTile
      .withColumn("__tp", sum(col("n_pos")).over(W))
      .withColumn("__tn", sum(col("n")).over(W))
      .withColumn("__cp", sum(col("n_pos")).over(wCum))
      .select(col("tile"), col("n"), col("n_pos"),
        round(rate, 6).as("rate"),
        when(col("__tp") > 0, round(rate / overall, 6)).as("lift"),
        when(col("__tp") > 0,
          round(col("__cp").cast("double") / col("__tp").cast("double"), 6))
          .as("cum_gain"))
  }

  /** Brier score with the Murphy decomposition — the proper scoring
    * rule behind [[calibration]]'s diagnostic view:
    *
    *   Brier = mean (s − y)²
    *         = reliability − resolution + uncertainty   (binned)
    *
    * where reliability = Σ n_b(s̄_b − ȳ_b)²/N (calibration error —
    * lower is better), resolution = Σ n_b(ȳ_b − ȳ)²/N (how much the
    * bins separate outcomes — higher is better), uncertainty =
    * ȳ(1−ȳ). The decomposition answers WHY a Brier score is bad:
    * miscalibrated, or just uninformative. One row:
    * `(n, n_bins, brier, reliability, resolution, uncertainty)`.
    * (The identity is exact only with per-bin mean scores, which is
    * what this computes; binning granularity is `nBins`.)
    *
    * Determinism: scores micro-quantize, so each row's (s−y)² is an
    * exact integer in micro² units and Brier is exact division; the
    * per-bin decomposition terms nano-quantize before the
    * nBins-bounded sums.
    *
    * Scale shape: one bin-keyed map-combined aggregation, a 1-row
    * total broadcast onto the ≤ nBins-row table, one rollup.
    */
  def brierDecomposition(df: DataFrame, positive: Column, score: Column,
                         nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins out of range: $nBins")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val s = score.cast("double")
    val sq = round(s * lit(1e6), 0).cast("long")
    val base = df.filter(positive.isNotNull)
      .select(least(floor(s * nBins).cast("int"), lit(nBins - 1)).as("__b"),
        sq.as("__s"), when(positive, 1L).otherwise(0L).as("__y"))
      .filter(col("__b").isNotNull && col("__b") >= 0)
    val d = col("__s") - col("__y") * lit(1000000L)
    val bins = base.groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__s").cast(dec)).as("__ss"),
        sum(col("__y")).as("__sy"), sum((d * d).cast(dec)).as("__sd2"))
    val tot = bins.agg(count(lit(1)).as("n_bins"), sum(col("__n")).as("n"),
      sum(col("__sy")).as("__Y"), sum(col("__sd2")).as("__D2"))
    val j = bins.crossJoin(broadcast(tot))
    val nbD = col("__n").cast("double")
    val sbar = col("__ss").cast("double") / nbD / lit(1e6)
    val ybar = col("__sy").cast("double") / nbD
    val yAll = col("__Y").cast("double") / col("n").cast("double")
    val rel = round(nbD * (sbar - ybar) * (sbar - ybar) * lit(1e9), 0).cast("long")
    val res = round(nbD * (ybar - yAll) * (ybar - yAll) * lit(1e9), 0).cast("long")
    val agg = j.select(col("n"), col("n_bins"), col("__Y"), col("__D2"),
        rel.as("__rel"), res.as("__res"))
      .groupBy(col("n"), col("n_bins"), col("__Y"), col("__D2"))
      .agg(sum(col("__rel")).as("__relS"), sum(col("__res")).as("__resS"))
    val nD = col("n").cast("double")
    val yA = col("__Y").cast("double") / nD
    agg.select(col("n"), col("n_bins"),
      round(col("__D2").cast("double") / nD / lit(1e12), 6).as("brier"),
      round(col("__relS").cast("double") / lit(1e9) / nD, 6).as("reliability"),
      round(col("__resS").cast("double") / lit(1e9) / nD, 6).as("resolution"),
      round(yA * (lit(1.0) - yA), 6).as("uncertainty"))
  }

  /** Isotonic (PAV) calibration over the binned reliability table — the
    * nonparametric recalibration step after [[calibration]] DIAGNOSES a
    * gap: the unique nondecreasing fit of per-bin positive rates
    * minimizing squared error, via pool-adjacent-violators. Returns one
    * row per occupied bin: `(bin, n, n_pos, frac_pos, iso)` — `iso` the
    * monotone calibrated probability to use in place of the raw bin
    * rate.
    *
    * The per-bin aggregation is the distributed pass; PAV then runs on
    * the DRIVER over the ≤ `nBins`-row table (the bounded-table posture
    * of BPE merge rules and k-means centers) with exact integer pools —
    * violator comparison by BigInt cross-multiplication, never a float.
    * Each fitted value is ONE IEEE division pooledPos/pooledN of exact
    * longs, which equals the minimax form
    * `max_{i≤b} min_{j≥b} avg(i..j)` an engine without a sequential
    * pass replays (correctly-rounded division is monotone, so the
    * max/min over quotients lands exactly on the pooled block's
    * quotient — that identity is what makes this oracleable).
    *
    * Scale shape: one map-combined bin aggregation; the driver holds
    * `nBins` longs, nothing data-sized.
    */
  def isotonicCalibration(df: DataFrame, positive: Column, score: Column,
                          nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins out of range: $nBins")
    val s = score.cast("double")
    val byBin = df.select(
        least(floor(s * nBins).cast("int"), lit(nBins - 1)).as("bin"),
        when(positive, 1L).otherwise(0L).as("__p"))
      .filter(col("bin").isNotNull && col("bin") >= 0)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("n_pos"))
    val bins = Observe.sortedCollect(byBin, "bin")
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    final case class Blk(n: Long, p: Long, size: Int)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Blk]
    bins.foreach { case (_, n, p) =>
      var cur = Blk(n, p, 1)
      // pool while the previous block's rate exceeds the current's
      // (exact rational comparison — no float ever decides a pool)
      while (stack.nonEmpty &&
          BigInt(stack.last.p) * cur.n > BigInt(cur.p) * stack.last.n) {
        val prev = stack.remove(stack.size - 1)
        cur = Blk(prev.n + cur.n, prev.p + cur.p, prev.size + cur.size)
      }
      stack += cur
    }
    val iso = stack.flatMap(b =>
      Seq.fill(b.size)(b.p.toDouble / b.n.toDouble)).toArray
    val spark = df.sparkSession
    // HALF_UP at 6 dp — the same rounding `functions.round` (and the
    // DuckDB oracle's round()) applies; rint's HALF_EVEN would diverge
    // on dyadic quotients like 1/128 = 0.0078125
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = bins.zip(iso).map { case ((bin, n, p), fit) =>
      org.apache.spark.sql.Row(bin, n, p, r6(p.toDouble / n.toDouble), r6(fit))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_pos",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("frac_pos",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("iso",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Thresholded confusion readout — the deployment numbers once a
    * cutoff is CHOSEN (where [[Stats.binaryAuc]] grades the ranking and
    * [[calibration]] the probabilities): one row of
    * `(n, tp, fp, fn, tn, accuracy, precision, recall, f1, mcc)` at
    * `score ≥ thresholdMicros/1e6`. MCC is the one of these that
    * cannot be gamed by class imbalance —
    * (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)) — and is null
    * (like precision/recall/f1) when its denominator is empty.
    *
    * Determinism: the cutoff compares micro-quantized integers (no
    * float threshold), all four cells are exact counts, every derived
    * ratio one fixed IEEE tree.
    *
    * Scale shape: ONE map-combined conditional aggregation to a single
    * row; rides the scoring scan at any size.
    */
  def confusionStats(df: DataFrame, positive: Column, score: Column,
                     thresholdMicros: Long = 500000L): DataFrame = {
    val sq = round(score * lit(1e6), 0).cast("long")
    val base = df.select(positive.as("__y"), sq.as("__s"))
      .filter(col("__y").isNotNull && col("__s").isNotNull)
    val pred = col("__s") >= thresholdMicros
    val agg = base.agg(
      count(lit(1)).as("n"),
      sum(when(col("__y") && pred, 1L).otherwise(0L)).as("tp"),
      sum(when(!col("__y") && pred, 1L).otherwise(0L)).as("fp"),
      sum(when(col("__y") && !pred, 1L).otherwise(0L)).as("fn"),
      sum(when(!col("__y") && !pred, 1L).otherwise(0L)).as("tn"))
    def d(c: String): Column = col(c).cast("double")
    val accuracy = (d("tp") + d("tn")) / d("n")
    val precision = d("tp") / (d("tp") + d("fp"))
    val recall = d("tp") / (d("tp") + d("fn"))
    val f1 = lit(2.0) * d("tp") / (lit(2.0) * d("tp") + d("fp") + d("fn"))
    val mccDen = sqrt((d("tp") + d("fp")) * (d("tp") + d("fn"))
      * (d("tn") + d("fp")) * (d("tn") + d("fn")))
    val mcc = (d("tp") * d("tn") - d("fp") * d("fn")) / mccDen
    agg.select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
      when(col("n") > 0, round(accuracy, 6)).as("accuracy"),
      when(col("tp") + col("fp") > 0, round(precision, 6)).as("precision"),
      when(col("tp") + col("fn") > 0, round(recall, 6)).as("recall"),
      when(lit(2L) * col("tp") + col("fp") + col("fn") > 0, round(f1, 6)).as("f1"),
      when(mccDen > 0.0, round(mcc, 6)).as("mcc"))
  }

  /** Kolmogorov-Smirnov separation of a score column — the
    * credit-scoring KS: max over thresholds of
    * |F_pos(t) − F_neg(t)|, with the threshold that achieves it. The
    * "one best cut exists and here it is" reading of what
    * [[Stats.binaryAuc]] integrates. Returns one row
    * `(n, n_pos, ks, threshold)`; ties on the max break to the
    * SMALLEST threshold; null when either class is empty.
    *
    * Determinism: the scan runs on the distinct-score table with
    * exact cumulative counts; the comparison is the cleared integer
    * |cumPos·N_neg − cumNeg·N_pos|, and the argmax an exact
    * lexicographic struct-min on (−d, t).
    *
    * Scale shape: one (score)-keyed aggregation, cumulative windows
    * over the DISTINCT-SCORE table (the binaryAuc bound), one
    * struct-min.
    */
  def ksScore(df: DataFrame, positive: Column, score: Column): DataFrame = {
    val sq = round(score * lit(1e6), 0).cast("long")
    val base = df.select(positive.as("__y"), sq.as("__s"))
      .filter(col("__y").isNotNull && col("__s").isNotNull)
    val cells = base.groupBy(col("__s")).agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
      sum(when(!col("__y"), 1L).otherwise(0L)).as("__q"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Long.MinValue, Window.currentRow)
    val cum = cells
      .withColumn("__cp", sum(col("__p")).over(w))
      .withColumn("__cq", sum(col("__q")).over(w))
    val tot = cells.agg(sum(col("__p")).as("__tp"), sum(col("__q")).as("__tq"))
    val j = cum.crossJoin(broadcast(tot))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d = abs(col("__cp").cast(dec) * col("__tq").cast(dec) -
      col("__cq").cast(dec) * col("__tp").cast(dec))
    val best = j.select(col("__tp"), col("__tq"),
        struct((-d).as("nd"), col("__s").as("t")).as("__cand"))
      .groupBy(col("__tp"), col("__tq"))
      .agg(min(col("__cand")).as("__best"))
    val ks = (-col("__best.nd")).cast("double") /
      (col("__tp").cast("double") * col("__tq").cast("double"))
    val ok = col("__tp") > 0 && col("__tq") > 0
    best.select((col("__tp") + col("__tq")).as("n"), col("__tp").as("n_pos"),
      when(ok, round(ks, 6)).as("ks"),
      when(ok, round(col("__best.t").cast("double") / lit(1e6), 6))
        .as("threshold"))
  }

  /** Brier skill score vs the climatology baseline: BSS = 1 − BS/BS_ref
    * with BS_ref = p̄(1 − p̄), the Brier score of always predicting the
    * base rate — the number that turns [[brierDecomposition]]'s
    * absolute BS into "better or worse than knowing nothing?"
    * (BSS > 0 = skill, < 0 = actively misleading). One row:
    * `(n, n_pos, brier, brier_ref, bss)`; bss null when the base rate
    * is degenerate (all one class).
    *
    * Determinism: Σ(s − y)² is an exact integer sum on micro scores;
    * the skill close is one fixed IEEE tree.
    *
    * Scale shape: ONE map-combined aggregation to a single row.
    */
  def brierSkill(df: DataFrame, positive: Column, score: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sq = round(score * lit(1e6), 0).cast("long")
    val base = df.select(positive.as("__y"), sq.as("__s"))
      .filter(col("__y").isNotNull && col("__s").isNotNull)
    val e = col("__s") - when(col("__y"), 1000000L).otherwise(0L)
    val agg = base.agg(
      count(lit(1)).as("n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
      sum(e.cast(dec) * e.cast(dec)).as("__se2"))
    val nD = col("n").cast("double")
    val brier = col("__se2").cast("double") / nD / lit(1e12)
    val pBar = col("n_pos").cast("double") / nD
    val ref = pBar * (lit(1.0) - pBar)
    val ok = col("n") > 0 && col("n_pos") > 0 && col("n_pos") < col("n")
    agg.select(col("n"), col("n_pos"),
      when(col("n") > 0, round(brier, 6)).as("brier"),
      when(ok, round(ref, 6)).as("brier_ref"),
      when(ok, round(lit(1.0) - brier / ref, 6)).as("bss"))
  }

  /** Best single-threshold decision stump by weighted Gini impurity —
    * the one-split tree over a score column: the interpretable
    * baseline every threshold choice should beat, and the greedy step
    * a tree learner would take. Scans every distinct score as a
    * candidate cut (predict positive when score ≥ t); returns one row
    * `(n, n_pos, threshold, impurity, n_left, pos_left)` for the
    * impurity-minimizing cut (ties break to the smallest threshold;
    * the all-right trivial cut at the minimum score is a candidate, so
    * a split only wins by beating no-split). Empty input → empty
    * output.
    *
    * Determinism: candidate evaluation runs on the distinct-score
    * table with exact cumulative counts; each weighted impurity
    * (nL² − posL² − negL²)/(nL·N) + … nano-quantizes before the
    * argmin, and the argmin is an exact lexicographic struct-min.
    *
    * Scale shape: one (score)-keyed map-combined aggregation, then
    * cumulative windows over the DISTINCT-SCORE table (a 6-dp score
    * has bounded cardinality — the binaryAuc bound), one struct-min.
    */
  def decisionStump(df: DataFrame, positive: Column,
                    score: Column): DataFrame = {
    val sq = round(score * lit(1e6), 0).cast("long")
    val base = df.select(positive.as("__y"), sq.as("__s"))
      .filter(col("__y").isNotNull && col("__s").isNotNull)
    val cells = base.groupBy(col("__s")).agg(
      count(lit(1)).as("__n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("__p"))
    val w = Window.orderBy(col("__s")).rowsBetween(Long.MinValue, -1)
    val withCum = cells
      .withColumn("__nl", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("__pl", coalesce(sum(col("__p")).over(w), lit(0L)))
    val tot = cells.agg(sum(col("__n")).as("__nt"), sum(col("__p")).as("__pt"))
    val j = withCum.crossJoin(broadcast(tot))
    def d(c: Column): Column = c.cast("double")
    val nR = col("__nt") - col("__nl")
    val pR = col("__pt") - col("__pl")
    def side(n: Column, p: Column): Column = {
      val neg = n - p
      when(n > 0L,
        (d(n) * d(n) - d(p) * d(p) - d(neg) * d(neg)) / (d(n) * d(col("__nt"))))
        .otherwise(lit(0.0))
    }
    val imp = side(col("__nl"), col("__pl")) + side(nR, pR)
    val scored = j.select(col("__nt"), col("__pt"),
      struct(round(imp * lit(1e9), 0).cast("long").as("i"),
        col("__s").as("t"), col("__nl").as("nl"), col("__pl").as("pl"))
        .as("__cand"))
    scored.groupBy(col("__nt").as("n"), col("__pt").as("n_pos"))
      .agg(min(col("__cand")).as("__best"))
      .select(col("n"), col("n_pos"),
        round(col("__best.t").cast("double") / lit(1e6), 6).as("threshold"),
        round(col("__best.i").cast("double") / lit(1e9), 6).as("impurity"),
        col("__best.nl").as("n_left"), col("__best.pl").as("pos_left"))
  }

  /** NDCG@k with binary relevance — does the score column put the
    * relevant items FIRST, position-discounted the way a consumer of
    * the ranking actually reads it (where [[Stats.binaryAuc]] weighs
    * every inversion equally). Per group:
    * `(groupBy..., n, n_rel, dcg, idcg, ndcg)` with
    * DCG = Σ_{rel hits in top k} 1/log₂(rank+1) and IDCG the ideal
    * prefix of min(k, n_rel) ones; ndcg is null when the group has no
    * relevant items. Ties in score break on `tieBreak` ascending —
    * pass a unique id so the ranking is total.
    *
    * Determinism: each discount term is round(1e9·ln 2 / ln(rank+1))
    * — an integer-argument ln tree nano-quantized BEFORE the sums —
    * so DCG/IDCG are exact integer sums and ndcg one IEEE division.
    *
    * Scale shape: one group-keyed sort window (rank), a group-bounded
    * aggregation, and a ≤ k-row ideal-prefix explode per group —
    * nothing beyond the ranking shuffle the readout is ABOUT.
    */
  def ndcgAtK(df: DataFrame, groupBy: Seq[String], relevant: Column,
              score: Column, k: Int, tieBreak: Column): DataFrame = {
    require(groupBy.nonEmpty, "ndcgAtK needs group keys")
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    val gCols = groupBy.map(col)
    val base = df.select(gCols :+ relevant.as("__rel") :+ score.as("__s")
        :+ tieBreak.as("__tb"): _*)
      .filter(col("__rel").isNotNull && col("__s").isNotNull)
    val w = Window.partitionBy(gCols: _*)
      .orderBy(col("__s").desc, col("__tb"))
    def discNano(rank: Column): Column =
      round(lit(1e9) * log(lit(2.0)) / log((rank + lit(1L)).cast("double")), 0)
        .cast("long")
    val ranked = base.withColumn("__rk", row_number().over(w).cast("long"))
    val term = when(col("__rk") <= k && col("__rel"), discNano(col("__rk")))
      .otherwise(0L)
    val agg = ranked.groupBy(gCols: _*).agg(
      count(lit(1)).as("n"),
      sum(when(col("__rel"), 1L).otherwise(0L)).as("n_rel"),
      sum(term).as("__dcg"))
    // ideal prefix: min(k, n_rel) ones — ≤ k rows per group
    val ideal = agg.select(gCols :+ col("n") :+ col("n_rel") :+ col("__dcg")
        :+ explode_outer(when(col("n_rel") > 0L,
          sequence(lit(1L), least(lit(k.toLong), col("n_rel"))))).as("__i"): _*)
    val out = ideal.groupBy(gCols: _*).agg(
      max(col("n")).as("n"), max(col("n_rel")).as("n_rel"),
      max(col("__dcg")).as("__dcg"),
      sum(when(col("__i").isNotNull, discNano(col("__i")))).as("__idcg"))
    out.select(gCols :+ col("n") :+ col("n_rel")
      :+ round(col("__dcg").cast("double") / lit(1e9), 6).as("dcg")
      :+ round(col("__idcg").cast("double") / lit(1e9), 6).as("idcg")
      :+ when(col("__idcg") > 0L,
        round(col("__dcg").cast("double") / col("__idcg").cast("double"), 6))
        .as("ndcg"): _*)
  }

  /** Group fairness audit of a binary decision — the filter-bias
    * readout a curation pipeline owes its sources: when `selected`
    * (e.g. "quality score ≥ τ, keep the document") is applied across
    * groups, how do selection rate, TPR (recall of true positives),
    * FPR, and precision differ per group? Disparate selection rates
    * are how a quality classifier silently starves a language or
    * source out of the training mix. Per group:
    * `(groupBy..., n, n_pos, n_sel, n_tp, sel_rate, tpr, fpr,
    * precision)`; rates are null when their denominator is 0.
    *
    * Determinism: everything is an exact count; each rate emits
    * through the exact integral-divide micro-quantization (no
    * cross-engine round(double, 6) tie exposure).
    *
    * Scale shape: ONE map-combined conditional aggregation per group —
    * rides the scan.
    */
  def groupFairness(df: DataFrame, groupBy: Seq[String],
                    positive: Column, selected: Column): DataFrame = {
    require(groupBy.nonEmpty, "groupFairness needs group keys")
    val gCols = groupBy.map(col)
    val base = df.select(gCols :+ positive.as("__y") :+ selected.as("__s"): _*)
      .filter(col("__y").isNotNull && col("__s").isNotNull)
    val agg = base.groupBy(gCols: _*).agg(
      count(lit(1)).as("n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("__s"), 1L).otherwise(0L)).as("n_sel"),
      sum(when(col("__y") && col("__s"), 1L).otherwise(0L)).as("n_tp"))
    // integral divide via expr (Spark's `div`), spelled once per rate
    def r(num: String, den: String): Column =
      expr(s"(cast($num as decimal(38,0)) * 2000000 + $den) div " +
        s"(cast($den as decimal(38,0)) * 2)").cast("double") / lit(1e6)
    agg.select(gCols :+ col("n") :+ col("n_pos") :+ col("n_sel") :+ col("n_tp")
      :+ when(col("n") > 0, r("n_sel", "n")).as("sel_rate")
      :+ when(col("n_pos") > 0, r("n_tp", "n_pos")).as("tpr")
      :+ when(col("n") - col("n_pos") > 0,
        expr("(cast(n_sel - n_tp as decimal(38,0)) * 2000000 + (n - n_pos)) div " +
          "(cast(n - n_pos as decimal(38,0)) * 2)").cast("double") / lit(1e6))
        .as("fpr")
      :+ when(col("n_sel") > 0, r("n_tp", "n_sel")).as("precision"): _*)
  }

  /** Mean cross-entropy (log loss) of a probability column — the
    * PROPER scoring rule beside [[brierDecomposition]]: unlike Brier,
    * log loss punishes confident wrong answers without bound, which is
    * what makes it the training objective this readout mirrors. Scores
    * clamp to [1e-6, 1 − 1e-6] in integer micro units (the standard
    * guard — a rounded score of exactly 0 or 1 must not emit ±∞).
    * Returns one row `(n, n_pos, log_loss)`.
    *
    * Determinism: each row's −(y·ln p + (1−y)·ln(1−p)) takes ln of a
    * micro-integer ratio and nano-quantizes BEFORE the exact sum, so
    * partial-agg order cannot move the mean.
    *
    * Scale shape: one map-combined conditional aggregation to a single
    * row.
    */
  def logLoss(df: DataFrame, positive: Column, score: Column): DataFrame = {
    val sq = round(score * lit(1e6), 0).cast("long")
    val clamped = least(greatest(sq, lit(1L)), lit(999999L))
    val base = df.select(positive.as("__y"), clamped.as("__s"))
      .filter(col("__y").isNotNull && col("__s").isNotNull)
    val lnP = log(col("__s").cast("double") / lit(1e6))
    val lnQ = log((lit(1000000L) - col("__s")).cast("double") / lit(1e6))
    val term = round((-when(col("__y"), lnP).otherwise(lnQ)) * lit(1e9), 0)
      .cast("long")
    base.agg(
        count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(term).as("__t"))
      .select(col("n"), col("n_pos"),
        when(col("n") > 0,
          round(col("__t").cast("double") / lit(1e9) / col("n"), 6))
          .as("log_loss"))
  }

  /** Split-conformal prediction threshold + empirical coverage — the
    * DISTRIBUTION-FREE uncertainty wrapper for any scored classifier:
    * on a held-out calibration split, take the ⌈(n+1)(1−α)⌉-th smallest
    * nonconformity score q̂; the prediction sets {labels with
    * nonconformity ≤ q̂} then cover the truth with probability ≥ 1−α on
    * exchangeable data, NO model assumptions (Vovk; Angelopoulos &
    * Bates' split-conformal recipe). The audit every "the classifier
    * says 0.93" pipeline owes its consumers.
    *
    * Binary nonconformity, micro-exact: score is a 6-dp probability, so
    * s_i = y ? (1 − p) : p is an exact INTEGER in micro units, the rank
    * k = ⌈(n_cal+1)·(1−α)⌉ is computed with integer ceiling-division
    * (α itself in micro units), and q̂ is the first distinct value whose
    * cumulative count reaches k — engine-exact everywhere; if k exceeds
    * n_cal the threshold is the vacuous 1.0 (every set covers).
    * Coverage on the test split is then one exact count over a 1-row
    * broadcast of q̂.
    *
    * Scale shape: one distinct-value aggregation on the calibration
    * split (≤ 1e6+1 distinct micro values), cumulative counts via
    * [[graft.ops.Ids.withRunningTotals]] (range partitions + bounded
    * windows — never a whole-frame row window), a 1-row q̂ broadcast,
    * one test-side conditional aggregation.
    *
    * @param calSelector boolean column marking calibration rows (the
    *        caller's deterministic split — md5 parity by convention);
    *        false = test rows
    * @param alphaMicro miscoverage target α in micro units (1e5 = 0.1)
    * @return one row `(n_cal, n_test, k, qhat_micro, coverage)`
    */
  def conformalSplit(df: DataFrame, positive: Column, score: Column,
                     calSelector: Column, alphaMicro: Long): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 1e6): $alphaMicro")
    val sq = least(greatest(round(score * lit(1e6), 0).cast("long"), lit(0L)),
      lit(1000000L))
    val base = df
      .select(positive.as("__y"), sq.as("__s"), calSelector.as("__cal"))
      .filter(col("__y").isNotNull && col("__s").isNotNull && col("__cal").isNotNull)
      .select(col("__cal"),
        when(col("__y"), lit(1000000L) - col("__s")).otherwise(col("__s")).as("__nc"))
    val cal = base.filter(col("__cal"))
    val byVal = cal.groupBy(col("__nc")).agg(count(lit(1)).as("__n_v"))
    val cum = graft.ops.Ids.withRunningTotals(byVal, Seq("__nc"), Seq("__n_v"))
    val nCal = cal.agg(count(lit(1)).as("__ncal"))
      .select(col("__ncal"),
        // k = ceil((n+1)·(1e6 − α) / 1e6), exact integer ceiling-div
        (((col("__ncal") + lit(1L)) * (lit(1000000L) - lit(alphaMicro))
          + lit(999999L)) / lit(1000000L)).cast("long").as("__k"))
    // q̂ = smallest value whose cumulative count reaches k; vacuous 1.0
    // when k > n_cal (the standard small-sample escape)
    val qhat = cum.crossJoin(broadcast(nCal))
      .filter(col("__n_v_cum") >= col("__k"))
      .agg(min(col("__nc")).as("__q"))
      .crossJoin(broadcast(nCal))
      .select(col("__ncal"), col("__k"),
        coalesce(col("__q"), lit(1000000L)).as("__q"))
    // aggregate the test side FIRST, then re-attach the 1-row qhat frame:
    // first()-over-the-join would lose n_cal/k/qhat whenever the test
    // side is empty (empty corpus, or a real cal-only split)
    val testAgg = base.filter(!col("__cal"))
      .crossJoin(broadcast(qhat.select(col("__q").as("__qv"))))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__nc") <= col("__qv"), 1L).otherwise(0L)).as("__cov"))
    qhat.crossJoin(testAgg)
      .select(col("__ncal").as("n_cal"), col("n_test"), col("__k").as("k"),
        col("__q").as("qhat_micro"),
        when(col("n_test") > 0,
          round(col("__cov").cast("double") / col("n_test"), 6)).as("coverage"))
  }

  /** Unbiased pass@k — the Chen et al. (Codex) estimator for "what
    * fraction of tasks would succeed within k attempts" from n sampled
    * attempts with c observed successes per task:
    *
    *   pass@k = E_task[ 1 − C(n−c, k)/C(n, k) ]
    *          = E_task[ 1 − Π_{i=0}^{k−1} (n−c−i)/(n−i) ]
    *
    * (the product form — no factorials, exact when c = 0 or the
    * product telescopes to 0 at n−c < k). The naive "fraction of tasks
    * with ≥1 success in the first k samples" is biased; this is the
    * standard correction every eval harness quotes. Tasks with n < k
    * are EXCLUDED (the estimator is undefined there) and counted in
    * `n_skipped`. One row per k in `ks`:
    * `(k, n_tasks, n_skipped, pass_at_k)`.
    *
    * Determinism: n and c are exact per-task counts; the k-term
    * product is one fixed IEEE tree (k is a literal), nano-quantized
    * per task before the exact mean; ks is a literal explode.
    *
    * Scale shape: one task-keyed counting aggregation, a |ks|-wide
    * literal explode, one rollup per k — eval at 100 TB of attempts is
    * one shuffle.
    */
  def passAtK(df: DataFrame, taskCol: Column, success: Column,
              ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 1000),
      s"ks out of range: $ks")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perTask = df.select(taskCol.as("__t"),
        when(success, 1L).otherwise(0L).as("__s"))
      .filter(col("__t").isNotNull && col("__s").isNotNull)
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__n"), sum(col("__s")).as("__c"))
    val rows = ks.sorted.map { k =>
      val nD = col("__n").cast("double")
      val cD = col("__c").cast("double")
      val prod = (0 until k).map(i =>
          (nD - cD - lit(i.toDouble)) / (nD - lit(i.toDouble)))
        .reduce(_ * _)
      // n−c < k: some factor's numerator crosses 0 → pass@k = 1 exactly;
      // clamp via greatest so the telescoped-negative case stays exact
      val p = lit(1.0) - greatest(prod, lit(0.0))
      perTask.agg(
          sum(when(col("__n") >= k, 1L).otherwise(0L)).as("n_tasks"),
          sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_skipped"),
          sum(when(col("__n") >= k,
            round(p * lit(1e9), 0).cast(dec))).as("__ps"))
        .select(lit(k).as("k"), col("n_tasks"), col("n_skipped"), col("__ps"))
    }.reduce(_ unionByName _)
    rows.select(col("k"), col("n_tasks"), col("n_skipped"),
      when(col("n_tasks") > 0,
        round(col("__ps").cast("double") / lit(1e9) /
          col("n_tasks").cast("double"), 6)).as("pass_at_k"))
  }
}
